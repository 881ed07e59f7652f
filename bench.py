"""Headline benchmark: runs representative catalog queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Results are drained with the no-op writer so timing measures plan execution,
not driver-side collection.

Timing is STEADY-STATE: each query executes once untimed (absorbing
whole-stage-codegen compilation and JIT for that plan shape — a per-process
constant of 1-7 s that amortizes to zero over a 100 TB run), then
``N_STEADY`` timed executions are summarized as MIN (the headline:
min-of-N is the standard noise estimator for a deterministic workload on
a shared machine — any excess over the true cost is contention; round-3's
driver numbers doubled purely from machine load), MEAN and population σ
(``queries_mean``/``queries_sigma`` — the reference's benchmarker
persists mean/σ per test for cross-stack comparison, and σ is what lets
``tools/bench_compare.py`` separate a real regression from run noise).
Shuffles are not reused across executions (noop sink), so every timed run
pays the full data path: scan, exchange, aggregate.

Round 12 adds a ``serving`` group (same protocol, separate keys so the
headline total stays comparable): cold txlog point lookup via manifest
blooms, range slice via manifest stats, DV-carrying snapshot read —
the serving-tier wall times the headline set never covered
(``tools/bench_compare.py`` folds them into the same regression check).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: steady-state executions per query (after the untimed cold run)
N_STEADY = 3

HEADLINE = [
    "agg_rollup",
    "join3_topk",
    "source_pivot",
    "set_intersection",
    "grouped_topn",
    "time_window_agg",
    "first_per_key_dedup",
    "doc_minhash_lsh",
    "doc_simhash",
    "emb_topk",
    "closure_ancestors",
    # forced-distributed doubling-join loop: the closure path that runs at
    # scale (the plain entry times the size-gated driver fast path)
    "closure_ancestors_dist",
    # corpus-curation family (round 4): broadcast decontamination,
    # WindowGroupLimit stratified cap, heavy-hitter vocabulary
    "doc_decontaminate",
    "doc_stratified_sample",
    "doc_vocab",
    # round 5: SemDeDup semantic pruning — quantize + per-cell leader rule
    "emb_semantic_dedup",
    # round 5: substring-level dedup, bigram-LM quality scoring, and the
    # pinned-tokenizer BPE application (distinct-word segmentation join)
    "doc_dup_spans",
    "doc_lm_score",
    "doc_bpe_tokens",
    # round 5: temporal joins + iterative integer PageRank + analytics
    "events_asof_join",
    "graph_pagerank",
    "events_funnel",
    "emb_mmr_topk",
    # round 6: the end-to-end corpus pipeline (span rewrite → LM gate →
    # decontaminate → pack) — the composed number a training run cares
    # about, not just its stages
    "doc_corpus_pipeline_v2",
    # round 7: exact near-dup with triangle-inequality cell pruning —
    # the path that replaced the guarded quadratic as the at-scale exact
    # similarity join
    "emb_neardup_cells",
    # round 7.2: the supervised curation gate (train + score lineage) and
    # the composed IVFPQ production ANN layout (train, encode, prune,
    # ADC — the whole index lifecycle in one number)
    "doc_quality_classifier",
    "emb_ivfpq_topk",
    # round 7.3: the stream-stream-shaped interval join (batch face), the
    # second iterative-graph family, and the bitmap-guarded
    # decontamination whose plan shape replaces the broadcast of the
    # benchmark set
    "events_attribution",
    "graph_kcore",
    "doc_decontaminate_bloom",
    # round 7.4: cross-table fuzzy linkage (blocking + levenshtein verify)
    # and the frozen-index incremental near-dup — the two join families a
    # daily ingest run leans on
    "er_blocking_join",
    "doc_minhash_increment",
    # round 7.5: the warehouse-modeling pair (SCD2 build + point-in-time
    # enrichment — the leakage-free feature join) and the capped basket
    # self-join
    "events_scd2",
    "events_pit_join",
    "events_cooccur",
    # round 8: exact near-dup via inverted multi-index — the
    # growing-cell-count scale path (k² product cells at k+k assignment
    # cost; SCALING.md §6g)
    "emb_neardup_imi",
]


def _serving_ops(spark, sf_dir):
    """The txlog SERVING group (r11 verdict next-round #5): the headline
    set contains no txlog entry, so a regression in the serving read
    path — manifest bloom point lookups, seg_meta/stats range slices,
    DV-carrying snapshot reads — was invisible to BENCH round-over-round.
    Build one segmented, stats-carrying ``orders`` txlog table (untimed
    setup), then return the three timed ops; each op constructs a FRESH
    TxTable handle so every timed run pays the cold metadata path
    (manifest + segment resolution + driver-side pruning), which is
    exactly what a serving tier pays per query.  Reported as a separate
    ``serving`` map so the headline total stays comparable across
    rounds; engagement is ASSERTED so a silently stats-less table fails
    the bench rather than recording a full-scan time.

    bloom_seg_m=0: o_orderkey is UNIQUE, so a segment-level membership
    bloom would blow the word budget and be dropped anyway — per the
    documented boundary, unique keys are served by per-file blooms (the
    budget rationale lives on plans/txlog.SEG_BLOOM_MAX_WORDS)."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from indra_db_spark.plans.txlog import TxTable

    scratch = tempfile.mkdtemp(prefix="bench_serve_")
    # repeated bench runs must not accumulate orphaned table copies
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    root = scratch + "/orders"
    sm = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    tx = TxTable(spark, root)
    tx.set_stats_columns(
        "o_totalprice", bloom=("o_orderkey",), bloom_m=1 << 14,
        bloom_seg_m=0,
    )
    # file count scales with the input so the per-file bloom load stays
    # ~0.27 (≈2% FPR) at EVERY SF the bench honors — a fixed count would
    # saturate the 2^14-bit filters around sf1 and fail the engagement
    # assert; the 96 floor keeps the manifest past the inline threshold,
    # so the timed reads exercise the SEGMENTED resolution path
    n_files = max(96, sm.count() // 1500)
    tx.append(sm.repartitionByRange(n_files, "o_totalprice"))
    tx.delete_where(F.col("o_orderkey") % 1009 == 0, mode="dv")
    keys = [
        r[0]
        for r in sm.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(5)
        .collect()
    ]
    lo, hi = sm.agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).first()
    box = (lo, lo + (hi - lo) / 64)

    # engagement gates raise explicitly (not bare assert) so they
    # survive ``python -O`` — a stats-less table must FAIL the bench,
    # never silently record a full-scan time (r12 ADVICE)
    def point(s):
        df, fr, ft = TxTable(s, root).skip_read(eq={"o_orderkey": keys})
        if not fr < ft:
            raise AssertionError("bloom point lookup did not prune")
        return df

    def rng(s):
        df, fr, ft = TxTable(s, root).skip_read(
            predicates={"o_totalprice": box}
        )
        if not fr < ft:
            raise AssertionError("range-stats slice did not prune")
        return df

    def dv_read(s):
        return TxTable(s, root).read()

    # round 13 (r12 verdict next-round #2): the key-ordered UNIQUE-key
    # serving layout — o_orderkey is the first stats column, files are
    # range-partitioned on it, so _plan_segments packs them in key-min
    # order and point probes prune through disjoint RANGES (file-level
    # here; segment-level once the table outgrows SEGMENT_TARGET_FILES —
    # pinned at 100+ segments by tests + the cold-open probe).  No
    # blooms: this measures the pure range path a unique key must rely
    # on at scale.
    root_k = scratch + "/orders_keyed"
    txk = TxTable(spark, root_k)
    txk.set_stats_columns("o_orderkey")
    txk.append(sm.repartitionByRange(n_files, "o_orderkey"))
    # a page of keys spread across the domain (realistic point page;
    # percentile_approx returns observed values)
    spread = [
        int(v)
        for v in sm.agg(
            F.percentile_approx(
                "o_orderkey", [0.05, 0.275, 0.5, 0.725, 0.95], 10000
            )
        ).first()[0]
    ]

    def point_seg(s):
        df, fr, ft = TxTable(s, root_k).skip_read(
            eq={"o_orderkey": spread}
        )
        if not (fr < ft and fr <= 2 * len(spread)):
            raise AssertionError(
                f"key-ordered range prune did not engage: {fr}/{ft}"
            )
        return df

    # round 13 (r12 verdict next-round #6): ONE end-to-end REST latency
    # number — the reference's benchmarker times whole routes
    # (benchmarker/util.py:21-54), not storage primitives.  A real HTTP
    # server over a txlog-served FIXTURE lake (stats on, tables
    # clustered by their lookup keys); the timed op drives the
    # /statements/from_agents route: param parse → algebra → manifest-
    # pruned scans → bounded-evidence page assembly → JSON, asserting
    # both a non-empty page and prune engagement on every run.
    from indra_db_spark.plans.fixtures import fixture_lake
    from indra_db_spark.plans.lake import ReadonlyLake
    from indra_db_spark.service.rest import serve

    mem_lake, _, _ = fixture_lake(spark)
    ftables = mem_lake.tables()
    for tname in ("fast_raw_pa_link", "source_meta"):
        ftables[tname] = ftables[tname].repartition(6, "mk_hash")
    ftables["name_meta"] = ftables["name_meta"].repartitionByRange(
        4, "db_id"
    )
    fix_root = scratch + "/fixture_lake"
    ReadonlyLake(ftables).write_txlog(spark, fix_root, stats=True)
    lake_tx = ReadonlyLake.from_txlog(spark, fix_root)
    server = serve(lake_tx)
    atexit.register(server.shutdown)
    # limit=5: a 5-hash page can touch at most 5 of the 6 clustered
    # source_meta files, so the strict engagement gate (fr < ft) holds
    # by construction at fixture scale (bloom FPR ~0.2% adds nothing)
    rest_url = (
        f"http://127.0.0.1:{server.server_address[1]}"
        "/statements/from_agents?agent=MEK&limit=5&ev_limit=10"
    )

    def rest_page(s):
        import urllib.request

        lake_tx.prune_log.clear()
        with urllib.request.urlopen(rest_url, timeout=120) as r:
            out = json.loads(r.read())
        if not out.get("statements"):
            raise AssertionError("REST statement page came back empty")
        # gate on the EVIDENCE table's prune specifically (get_statements
        # prunes several tables per request; the log's last entry is the
        # final one — the rid fetch — whose single-file fixture layout
        # can legitimately read 1/1)
        hits = [
            (fr, ft)
            for name, fr, ft in lake_tx.prune_log
            if name == "fast_raw_pa_link"
        ]
        if not hits or not all(fr < ft for fr, ft in hits):
            raise AssertionError(
                f"REST page evidence scan did not engage the manifest "
                f"prune: {list(lake_tx.prune_log)}"
            )
        return None  # the op materialized itself (HTTP round trip)

    return {
        "serve_point_bloom": point,
        "serve_point_keyed": point_seg,
        "serve_range_stats": rng,
        "serve_dv_read": dv_read,
        "serve_rest_page": rest_page,
    }


def _loadavg() -> list[float] | None:
    """1/5/15-minute load averages, or None where unsupported.

    Recorded at bench start (BEFORE Spark spins up: a nonzero 1-min load
    here is OTHER work competing for the cores — the signal that tainted
    the r3 and r8 artifacts) and again at the end (dominated by the
    bench's own local[*] load; kept for the 15-min component, which
    still mostly reflects pre-existing contention)."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


#: 1-minute load above which the bench WAITS before starting (max
#: BENCH_LOAD_WAITS × 60 s, then proceeds regardless and says so):
#: the r11 and r12 artifacts were both recorded under external load and
#: both rounds' regression lists were pure noise — a bounded wait costs
#: ~nothing against the ~10 min run and usually yields a clean window.
#: Override with SPARK_GRAFT_BENCH_MAX_LOAD (0 disables the gate).
BENCH_MAX_LOAD = 4.0
BENCH_LOAD_WAITS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    max_load = float(
        os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", BENCH_MAX_LOAD)
    )
    load_initial = _loadavg()
    load_waits = 0
    while (
        max_load > 0
        and load_waits < BENCH_LOAD_WAITS
        and load_initial is not None
        and (_loadavg() or [0.0])[0] > max_load
    ):
        print(
            f"bench: 1-min load {_loadavg()[0]} > {max_load}, "
            f"waiting 60s ({load_waits + 1}/{BENCH_LOAD_WAITS})",
            file=sys.stderr,
            flush=True,
        )
        time.sleep(60)
        load_waits += 1
    load_start = _loadavg()

    from indra_db_spark import catalog
    from indra_db_spark.session import get_spark

    spark = get_spark("bench")
    # warm up the JVM + parquet footers of every table the headline queries
    # touch, outside the timed region
    for tbl in (
        "lineitem", "orders", "part", "customer", "supplier", "nation",
        "region", "events", "documents", "embeddings",
    ):
        spark.read.parquet(os.path.join(sf_dir, f"{tbl}.parquet")).count()
    # prime the shuffle machinery + broadcast thread pool + agg codegen so
    # the first timed query doesn't absorb one-time JVM setup
    from pyspark.sql import functions as F

    warm = spark.range(100_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    warm.groupBy("k").agg(F.sum("v")).join(
        F.broadcast(warm.limit(10).select("k")), "k"
    ).write.mode("overwrite").format("noop").save()

    # the JVM's benign local[32] log noise (e.g. DAGScheduler accumulator-
    # update traces) must not be able to masquerade as a failure in the
    # recorded bench tail — a REAL failure still surfaces as a Python
    # exception and a nonzero exit code regardless of JVM log level
    spark.sparkContext.setLogLevel("FATAL")

    timings: dict[str, float] = {}
    means: dict[str, float] = {}
    sigmas: dict[str, float] = {}
    cold_timings: dict[str, float] = {}

    def measure(name, run, mins, mn, sg, cold):
        # cold execution: first run of this plan shape in the process —
        # absorbs whole-stage-codegen compilation and JIT.  Reported
        # separately so round-over-round deltas separate plan improvements
        # from timing methodology (the steady-state number is the headline).
        # An op may return None to signal it materialized itself (the REST
        # round-trip op); DataFrames are drained through the noop sink.
        def _drain():
            out = run()
            if out is not None:
                out.write.mode("overwrite").format("noop").save()

        t0 = time.monotonic()
        _drain()
        cold[name] = round(time.monotonic() - t0, 3)
        runs = []
        for _ in range(N_STEADY):
            t0 = time.monotonic()
            _drain()
            runs.append(time.monotonic() - t0)
        mins[name] = round(min(runs), 3)
        mean = sum(runs) / len(runs)
        mn[name] = round(mean, 3)
        sg[name] = round(
            (sum((r - mean) ** 2 for r in runs) / len(runs)) ** 0.5, 3
        )

    for name in HEADLINE:
        fn, _ = catalog.REGISTRY[name]
        measure(
            name,
            lambda fn=fn: fn(spark, sf_dir),
            timings, means, sigmas, cold_timings,
        )

    # the txlog serving group: timed identically but reported under its
    # own keys so the headline total stays comparable round-over-round
    serving: dict[str, float] = {}
    serving_means: dict[str, float] = {}
    serving_sigmas: dict[str, float] = {}
    serving_cold: dict[str, float] = {}
    for name, op in _serving_ops(spark, sf_dir).items():
        measure(
            name,
            lambda op=op: op(spark),
            serving, serving_means, serving_sigmas, serving_cold,
        )

    total = round(sum(timings.values()), 3)
    load_end = _loadavg()
    # "cpus" must report the EFFECTIVE core count the session actually ran
    # on (local[$SPARK_GRAFT_CPUS]); r13's 8-core scaling artifact recorded
    # os.cpu_count()=32 and the driver's scaling analysis came back empty
    # (r13 verdict, "what's wrong" #2).
    try:
        cpus_effective = int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
    except ValueError:  # set but empty or not a number
        cpus_effective = 0
    cpus_effective = cpus_effective or os.cpu_count()
    env = {
        "load_start": load_start,
        "load_end": load_end,
        "load_initial": load_initial,
        "load_waits": load_waits,
        "cpus": cpus_effective,
    }
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_mean": means,
                "queries_sigma": sigmas,
                "n_steady": N_STEADY,
                "queries_cold": cold_timings,
                "value_cold": round(sum(cold_timings.values()), 3),
                "serving": serving,
                "serving_mean": serving_means,
                "serving_sigma": serving_sigmas,
                "serving_cold": serving_cold,
                "serving_total": round(sum(serving.values()), 3),
                "sf": sf,
                **env,
            }
        )
    )
    # The driver's BENCH_r{N} wrapper keeps only the LAST 2000 bytes of
    # stdout (front-truncation), and the full line above outgrew that in
    # round 7 — the recorded artifact lost ``value`` and most of the
    # per-query map (r7 verdict, "what's wrong" #1).  Emit a SECOND,
    # compact summary line as the final output so it always survives the
    # tail capture; tools/bench_compare.py accepts either line.
    #
    # Round 14 (r13 verdict, "what's wrong" #2 / next-round #1a): the
    # driver parses the LAST JSON line and requires the ``queries`` map on
    # it — r13's summary line carried only ``queries_mean`` and the
    # driver's per-query PERF table came back empty.  The last line now
    # carries ``queries`` (the per-query MIN timings whose sum is
    # ``value`` — the headline estimator) plus the serving mins.  The
    # means/σ/cold maps still ride the first line unchanged; both maps
    # cannot fit on one line inside the 2000-byte tail window, and min is
    # the documented headline, so the summary line carries min.  The
    # loadavg arrays move to the first line only, for the same budget
    # reason; ``load_waits`` (the contention flag) stays here.
    print(
        json.dumps(
            {
                "metric": "headline_queries_summary",
                "value": total,
                "value_mean": round(sum(means.values()), 3),
                "unit": "sec",
                "sf": sf,
                "n_steady": N_STEADY,
                "queries": timings,
                "serving": serving,
                "serving_total": round(sum(serving.values()), 3),
                "load_waits": load_waits,
                "cpus": cpus_effective,
            }
        )
    )


if __name__ == "__main__":
    main()
