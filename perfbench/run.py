"""Statement-engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve_reads --seed 1 --seconds 10 --trace 0

Run from the repository root.  Both workloads serve a release of a
generated corpus, built by the program's own path (``run_assembly`` ->
``write_txlog(stats=True)``, opened with ``from_txlog``) and served by
``service.rest.serve``, to closed-loop clients sending a seeded REST read
mix for ``--seconds``:

- ``serve_reads``: one read client per core;
- ``serve_curate``: one of those clients submits curations instead, and
  statement pages carry curation counts.

The release is built once per program version and kept under
``.bench_cache/`` (see ``engine.served_lake``); the first run in a
checkout builds it.  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of ``traced.py``, which also times
``run_assembly`` stage by stage.  Every answer is checked; the last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``, and the line before it a summary with the environment and
the workload's own figures (per-class latencies and percentiles, error
rate, lake size).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

WORKLOADS = ("serve_reads", "serve_curate")
#: raw statements in a generated corpus (about 4 per unique statement);
#: at 1e5 a read takes about 5 s under four clients (4-core host), too
#: few completions for a run to measure
N_RAW = 10_000
#: corpus seed of the served release: building it costs more than a run
#: may spend, so it is built once per program version and cached, and
#: ``--seed`` draws the request and curation streams over it
SERVED_SEED = 0
REQUEST_POOL = 400
CURATION_POOL = 400
#: set-ups per run; setup_s reports their median
SETUP_REPS = 3
#: completed requests per checked class compared with the DuckDB oracle
ORACLE_PER_CLASS = 5
ORACLE_CLASSES = ("stmt_agents", "hashes_subj_obj", "stmt_hash")
CACHE = ROOT / ".bench_cache"


def process_age() -> float:
    """Seconds since this process started (the kernel's start stamp)."""
    ticks = os.sysconf("SC_CLK_TCK")
    start = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start / ticks


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--n-raw", type=int, default=N_RAW,
                   help="corpus size; the self-tests pass a tiny one")
    return p.parse_args(argv)


class Checks:
    """Correctness bookkeeping: every op and every check counts once in
    ``attempted``, and at most once in ``failed``."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def __call__(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{label}: {p}" for p in problems]

    def equal(self, label: str, got, want) -> None:
        self(label, [] if got == want else [f"{got!r} != expected {want!r}"])


def medscan_only(s) -> bool:
    return all(src == "medscan" for src, _ in s.evidence)


def check_lake(checks: Checks, corpus, hashes: list[int], lake_root: Path) -> None:
    """The committed release against what the generator knows."""
    import engine

    oracle = engine.Oracle(lake_root)
    try:
        checks.equal("lake unique statements", oracle.count("source_meta"), corpus.n_unique)
        checks.equal("lake evidence rows", oracle.count("fast_raw_pa_link"), corpus.n_evidence)
        checks.equal("lake evidence total", oracle.ev_total(), corpus.n_evidence)
        checks.equal("lake statement hashes", oracle.hashes(), set(hashes))
        checks.equal(
            "lake medscan-only statements", oracle.medscan_only(),
            sum(1 for s in corpus.statements if medscan_only(s)),
        )
    finally:
        oracle.close()


def median_setup(reps: list[float]) -> float:
    """Process age now, with the repeated set-up counted once at its median."""
    return process_age() - sum(reps) + statistics.median(reps)


# ------------------------------------------------------------------ serve


class Served:
    """The cached served release and this run's request streams."""

    def __init__(self, spark, args):
        import engine
        import gen

        self.curate = args.workload == "serve_curate"
        self.corpus = gen.generate(SERVED_SEED, args.n_raw)
        self.root = engine.served_lake(spark, self.corpus, CACHE)
        self.lake_root = self.root / "lake"
        self.hashes = engine.statement_hashes(self.corpus)
        visible = sorted(
            h for s, h in zip(self.corpus.statements, self.hashes) if not medscan_only(s)
        )
        self.reads = gen.make_requests(
            self.corpus, visible, REQUEST_POOL, args.seed, with_cur_counts=self.curate
        )
        self.writes = (
            gen.make_curations(visible, CURATION_POOL, args.seed) if self.curate else []
        )
        self.pa_statements = spark.read.parquet(str(self.root / "pa_statements"))

    def open(self, spark, curation_path: Path):
        """Lake open plus a REST server with the curation write path."""
        import engine
        from indra_db_spark.plans.lake import ReadonlyLake

        lake = ReadonlyLake.from_txlog(spark, str(self.lake_root))
        return engine.Server(spark, lake, curation_path, self.pa_statements)

    def shapes(self) -> list:
        """One request of every shape."""
        firsts = {}
        for r in self.reads + self.writes:
            firsts.setdefault(r.kind, r)
        return list(firsts.values())


def warm_pass(port: int, reqs: list) -> list:
    """Send ``reqs`` all at once, untimed."""
    import clients

    from concurrent.futures import ThreadPoolExecutor

    def one(req):
        t0 = time.perf_counter()
        status, body = clients.send(port, req)
        return clients.Result(req, -1, -1, status, body, t0, time.perf_counter())

    with ThreadPoolExecutor(len(reqs)) as ex:
        return list(ex.map(one, reqs))


def serve_run(spark, args, cpus: int, work: Path) -> tuple[dict, dict, Checks]:
    import clients
    import engine
    from stats import TooFewSamples, metric, percentile

    phases = {"spark_s": process_age()}
    t = time.perf_counter()
    served = Served(spark, args)
    phases["corpus_and_release_s"] = time.perf_counter() - t
    # lake open + server start, repeated; the last server stays up, gets
    # one untimed request of every shape and is measured.  A second warm
    # pass would time a warmed JVM, so the warm pass runs once.
    reps = []
    for _ in range(SETUP_REPS):
        if reps:
            server.close()
        t = time.perf_counter()
        server = served.open(spark, work / "curation")
        reps.append(time.perf_counter() - t)
    phases["open_reps_s"] = reps
    t = time.perf_counter()
    warm = warm_pass(server.port, served.shapes())
    phases["warm_s"] = time.perf_counter() - t
    setup_s = median_setup(reps)

    writers = 1 if served.curate else 0
    cpu0 = engine.cpu_s()
    results, start = clients.closed_loop(
        server.port, served.reads, served.writes, cpus - writers, writers, args.seconds
    )
    cpu = engine.cpu_s() - cpu0
    rss = engine.peak_rss_mb()
    server.close()
    phases["measured_s"] = process_age()

    checks = Checks()
    acked: set[int] = set()
    for r in warm + results:
        label = f"{r.req.kind} {r.req.path}"
        if not r.req.is_write:
            checks(label, clients.check_read(r, with_cur_counts=served.curate))
            continue
        probs, cid = clients.check_write(r)
        if cid is not None:
            if cid in acked:
                probs.append(f"duplicate curation id {cid}")
            acked.add(cid)
        checks(label, probs)

    reads = [r for r in results if not r.req.is_write]
    writes = [r for r in results if r.req.is_write]
    check_lake(checks, served.corpus, served.hashes, served.lake_root)
    from indra_db_spark.schemas import TYPE_NUMS

    oracle = engine.Oracle(served.lake_root)
    try:
        for kind in ORACLE_CLASSES:
            done = sorted(
                (r for r in reads if r.req.kind == kind and r.status == 200),
                key=lambda r: r.index,
            )[:ORACLE_PER_CLASS]
            for r in done:
                checks(f"oracle {kind} {r.req.path}", clients.check_oracle(r, oracle, TYPE_NUMS))
    finally:
        oracle.close()
    if served.curate:
        from indra_db_spark.plans.principal import CurationStore

        store = CurationStore(spark, str(work / "curation"))
        seen = {r.id for r in store.df().select("id").collect()}
        checks.equal("fresh curation store ids", seen, acked)

    def latency(prefix: str, rs: list) -> dict:
        """Mean, and each of p50/p75/p90 the samples support."""
        xs = [r.latency for r in rs]
        out = {f"{prefix}_mean_s": statistics.fmean(xs) if xs else None}
        for q in (0.5, 0.75, 0.9):
            try:
                out[f"{prefix}_p{round(q * 100)}_s"] = percentile(xs, q)
            except TooFewSamples:
                break
        return out

    # a run holds a few dozen requests at most (each costs Spark jobs),
    # too few for a steady percentile: the headline latency is the mean.
    # CPU per request is the serving cost, and unlike the wall-clock
    # figures it does not move with CPU time the host takes elsewhere.
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "req_per_s": metric(clients.throughput(results, start), "1/s"),
        "read_mean_s": metric(statistics.fmean(r.latency for r in reads), "s"),
        "cpu_s_per_req": metric(cpu / len(results), "s"),
        "peak_rss_mb": metric(rss, "MB"),
    }
    summary = {
        "read_per_s": clients.throughput(reads, start),
        **latency("read", reads),
        **latency("stmt", [r for r in reads if r.req.is_statements]),
        "n_reads": len(reads), "n_writes": len(writes),
        "class_mean_s": {
            k: statistics.fmean(r.latency for r in reads if r.req.kind == k)
            for k in sorted({r.req.kind for r in reads})
        },
        "setup_phases": phases,
        "corpus": corpus_summary(served.corpus),
        "lake_bytes_per_raw_byte":
            engine.tree_bytes(served.lake_root) / served.corpus.raw_json_bytes,
    }
    if served.curate:
        summary.update(latency("write", writes))
        summary["curation_log_files"] = engine.parquet_files(work / "curation")
    phases["checked_s"] = process_age()
    return metrics, summary, checks


def corpus_summary(corpus) -> dict:
    return {
        "seed": corpus.seed, "n_raw": corpus.n_raw, "n_unique": corpus.n_unique,
        "n_evidence": corpus.n_evidence, "n_agents": len(corpus.agents),
        "raw_json_bytes": corpus.raw_json_bytes,
    }


# ------------------------------------------------------------------- main


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import indra_db_spark  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    import engine

    load_start = engine.loadavg()
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    cpus = engine.pin_environment(work, ROOT)
    spark = None
    try:
        spark = engine.start_spark(work, traced=bool(args.trace))
        if args.trace:
            import traced

            metrics, summary, checks = traced.run(spark, args, cpus, work)
        else:
            metrics, summary, checks = serve_run(spark, args, cpus, work)
    finally:
        if spark is not None:
            engine.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".bench_work").rmdir()
        except OSError:
            pass
    summary.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus, "loadavg_start": load_start,
        "loadavg_end": engine.loadavg(), "versions": engine.versions(),
        "checks": checks.attempted, "error_rate": checks.failed / checks.attempted,
        "problems": checks.problems[:20], "n_problems": len(checks.problems),
    })
    print(json.dumps({"summary": summary}))
    print(json.dumps({
        "correct": not checks.failed,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
