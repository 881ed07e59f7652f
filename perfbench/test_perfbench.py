"""Self-tests of the benchmark (not of the program).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark and build a tiny release, so the whole file
takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import traced  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SMOKE_RAW = 400


def inputs(seed: int):
    corpus = gen.generate(seed, 2000)
    hashes = list(range(1, 200))
    return (
        corpus.tables,
        corpus.ontology,
        gen.make_requests(corpus, hashes, 100, seed, with_cur_counts=True),
        gen.make_curations(hashes, 50, seed),
    )


def test_same_seed_same_inputs():
    assert inputs(7) == inputs(7)


def test_other_seed_other_inputs():
    a, b = inputs(7), inputs(8)
    # the ontology (gene -> family) is fixed by the agent count alone
    for i in (0, 2, 3):
        assert a[i] != b[i]


def test_corpus_shape():
    corpus = gen.generate(3, 20_000)
    assert 3 <= corpus.n_evidence / corpus.n_unique <= 5
    stale = [r for r in corpus.tables["raw_statements"] if r["batch_id"] == 0]
    assert stale and corpus.n_raw == corpus.n_evidence + len(stale)
    assert {s.type for s in corpus.statements} == set(gen.TYPE_WEIGHTS)
    assert any(all(src == "medscan" for src, _ in s.evidence) for s in corpus.statements)
    assert corpus.ontology and corpus.tables["mesh_ref_annotations"]


def test_percentile_needs_samples_beyond():
    xs = list(range(100))
    assert stats.percentile(xs, 0.9) == 89  # 10 samples beyond it
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(xs[:99], 0.9)
    assert stats.percentile(xs[:99], 0.9, strict=False) == 89
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(19)), 0.5)


def test_metric_names():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        stats.check_name(name)
    with pytest.raises(ValueError):
        stats.check_name("bad name")


def test_spec_matches_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    per_layer = {m["name"] for m in SPEC["per_layer"]}
    assert per_layer == set(traced.SHOULD_MOVE)
    end_to_end = {m["name"] for m in SPEC["end_to_end"]}
    assert set(traced.SHOULD_MOVE.values()) <= end_to_end


def result(args: list[str], cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke(workload, trace):
    proc = result(["--workload", workload, "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--n-raw", str(SMOKE_RAW)])
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, proc.stdout.splitlines()[-2]
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }


def test_fails_without_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = result(["--workload", run.WORKLOADS[0], "--seed", "1", "--seconds", "1"],
                  cwd=tmp_path)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
