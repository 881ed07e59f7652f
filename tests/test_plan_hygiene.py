"""Physical-plan hygiene: the properties that make these plans survive a
100x scale-up, asserted on explain() output so regressions fail loudly.

- filters/projections reach the parquet scan (PushedFilters / ReadSchema);
- small dimensions broadcast instead of shuffling the fact side;
- aggregations are partial (map-side combine) before the shuffle;
- per-group top-N uses the window-group-limit pushdown;
- the hot paths stay inside whole-stage codegen (no Python in the plan).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from indra_db_spark import catalog


def _plan(spark, sf_dir, name: str) -> str:
    fn, _ = catalog.REGISTRY[name]
    return fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scan_filter_project")
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters:")[1][:400]
    # column pruning: the scan schema must not include unused wide columns
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_comment" not in read_schema


def test_small_dimension_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "broadcast_dim_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_rollup")
    # map-side combine: HashAggregate appears both below and above the
    # exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_grouped_topn_uses_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "grouped_topn")
    assert "WindowGroupLimit" in plan  # rank pushdown before full sort


def test_gopher_gate_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_gopher_quality")
    assert "Exchange" not in plan  # pure per-row expressions, single scan
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "lang" not in read_schema  # column pruning: only doc_id + text


def test_repetition_gate_partial_aggregates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_repetition")
    # each gram chain must combine map-side before its shuffle
    assert plan.count("HashAggregate") >= 6
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hot_paths_have_no_python_udf(spark, sf_dir):
    for name in (
        "agg_rollup", "join3_topk", "source_pivot", "set_intersection",
        "grouped_topn", "doc_minhash_lsh", "doc_simhash", "emb_topk",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_whole_stage_codegen_spans(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scan_filter_project")
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    assert "*(1)" in plan


def test_semi_join_for_hash_sets(spark, sf_dir):
    plan = _plan(spark, sf_dir, "papers_semijoin")
    assert "LeftSemi" in plan


def test_anti_join_for_inversion(spark, sf_dir):
    plan = _plan(spark, sf_dir, "invert_anti")
    assert "LeftAnti" in plan


def test_srp_neardup_is_an_equijoin(spark, sf_dir):
    """The bucketed near-dup exists to replace the exact variant's
    nested-loop all-pairs join with a hash-partitioned equi-join on the
    bucket key — pin that, or the "scale path" silently degenerates."""
    plan = _plan(spark, sf_dir, "emb_srp_neardup")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_lsh_self_join_reads_materialized_buckets(spark, sf_dir):
    # dual-lineage guard: the band-bucket self-join must consume the
    # checkpointed bucket frame, not re-derive scan->shingle->signature on
    # both sides (VERDICT r2: 4 scans of documents, no ReusedExchange)
    from indra_db_spark.catalog import REGISTRY

    for name in ("doc_minhash_lsh", "doc_minhash_verified", "doc_ngram_jaccard"):
        fn, _ = REGISTRY[name]
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "FileScan parquet" not in plan, (
            f"{name}: self-join recomputes source lineage instead of "
            f"reading the materialized frame"
        )


def test_keyword_search_is_one_fused_scan(spark, sf_dir):
    # per-term tf + dl computed inside the scan projection: no explode, no
    # per-term shuffle; the stats side is a broadcast; the tail is a
    # TakeOrderedAndProject, never a global Sort+Exchange
    plan = _plan(spark, sf_dir, "doc_keyword_search")
    assert "Generate explode" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats frame
    assert "PythonUDF" not in plan


def test_asof_join_single_key_shuffle(spark, sf_dir):
    # the union-merge as-of join: ONE exchange on the key for the merge
    # window (plus the right-side dedup's own); no sort-merge join, no
    # cartesian anywhere
    plan = _plan(spark, sf_dir, "events_asof_join")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Window" in plan


def test_band_join_is_an_equijoin(spark, sf_dir):
    # bucketed range join: equi-join on (key, cell) — the inequality only
    # appears as a post-join filter, never as a nested-loop condition
    plan = _plan(spark, sf_dir, "events_band_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hier_rollup_single_pass(spark, sf_dir):
    # GROUP BY ROLLUP expands grouping sets inside one aggregation: a
    # single Expand + one exchange, not one scan per resolution
    plan = _plan(spark, sf_dir, "events_hier_rollup")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_dup_spans_window_reuses_partitioning(spark, sf_dir):
    # the interval-merge windows and the final span aggregate all run on
    # the per-document partitioning established once for the hit surface
    plan = _plan(spark, sf_dir, "doc_dup_spans")
    # two logical windows (lag + running sum) share one sort+exchange
    assert plan.count("Exchange hashpartitioning(id") <= 1
    assert "PythonUDF" not in plan


def test_lm_score_count_joins_after_materialized_bigrams(spark, sf_dir):
    # the corpus-scale bigram frame is materialized once (Scan ExistingRDD)
    # and feeds the count joins; the vocabulary-size side broadcasts
    plan = _plan(spark, sf_dir, "doc_lm_score")
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row V frame
    assert "PythonUDF" not in plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_chunks")
    assert "Exchange" not in plan  # scan-fused explode + slice
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "lang" not in read_schema  # only doc_id + text scanned


def test_pmi_and_top_terms_take_ordered_and_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_pmi_terms")
    assert "TakeOrderedAndProject" in plan  # global top-k, no full sort
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("HashAggregate") >= 4  # partial + final per count
    plan2 = _plan(spark, sf_dir, "doc_top_terms")
    assert "WindowGroupLimit" in plan2  # per-doc rank<=k pushdown
    assert "BatchEvalPython" not in plan2 and "ArrowEvalPython" not in plan2


def test_corpus_pipeline_v2_plan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_corpus_pipeline_v2")
    # decontamination's benchmark shingle set must broadcast, and the
    # whole composition must stay JVM-side
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_triangles_materialize_shared_frames(spark, sf_dir):
    """The triangle count's edge-set and oriented-list frames feed 2-3
    consumers each; the compute-once barrier (_materialize →
    localCheckpoint) substitutes LogicalRDD placeholders at plan time, so
    the assembled plan must contain ZERO parquet scans — if the barrier
    is dropped, Catalyst re-derives the scan per consumer and this counts
    them (the r6 bug: 180 scans, 12.9 s → 1.9 s at 40k edges once
    materialized).  Executed (not explain-only): the collect proves the
    checkpointed path actually computes, and the count pins correctness.
    """
    plan = _plan(spark, sf_dir, "graph_triangles")
    assert plan.count("Scan parquet") == 0, (
        "triangle shared frames recomputed from the source scan — "
        "_materialize barrier dropped?"
    )
    fn, _ = catalog.REGISTRY["graph_triangles"]
    df = fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    # executed plan (post-AQE) must also be scan-free
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("Scan parquet") == 0


def test_neardup_cells_prunes_and_stays_jvm_side(spark, sf_dir):
    """The cell-pruned exact near-dup must (a) keep the whole pair stage
    in JVM codegen — no Python anywhere, the sim is a column expression;
    (b) never plan a CartesianProduct (the candidate join is keyed on the
    cell-pair frame — an EQUI join, unlike the brute force's
    nested-loop theta-join); and (c) on CLUSTERED data the
    triangle-inequality bound actually prunes cell pairs.  The prune
    check runs on synthetic tight clusters, not the fixture: the
    fixture's quasi-random 64-dim vectors put every centroid
    ~equidistant (curse of dimensionality), so there the bound keeps all
    cell pairs by design and the operator's win is purely the join
    shape — asserting prune-effectiveness against that geometry would
    test the fixture, not the code."""
    from indra_db_spark.operators.similarity import cosine_neardup_cells
    from indra_db_spark.sources.lake import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = cosine_neardup_cells(emb, threshold=0.9, nlist=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # prune effectiveness on clustered geometry: 4 tight clusters on
    # orthogonal axes; at t=0.9 (eps ≈ 0.45) only same-cluster cell pairs
    # can qualify, so of the 10 cell pairs at nlist=4 the bound must keep
    # roughly the 4 diagonal ones — and the result must still be exact
    import itertools

    from indra_db_spark.testing import cosine_neardup_pairs

    rows = []
    vid = 0
    for axis in range(4):
        for jitter in (0.0, 0.02, 0.04, -0.03):
            v = [0.0] * 8
            v[axis] = 1.0
            v[(axis + 4) % 8] = jitter
            rows.append((vid, v))
            vid += 1
    clustered = spark.createDataFrame(
        rows, "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    centers = []
    for axis in range(4):
        c = [0.0] * 8
        c[axis] = 1.0
        centers.append(c)
    got = {
        (r.id_a, r.id_b)
        for r in cosine_neardup_cells(
            clustered, threshold=0.9, centers=centers
        ).collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in cosine_neardup_pairs(
            clustered, threshold=0.9, max_rows=None
        ).collect()
    }
    assert got == want and got  # exact, non-empty (within-cluster pairs)
    # every qualifying pair is within one cluster of 4 consecutive ids
    assert all(a // 4 == b // 4 for a, b in got)
    # the bound itself: cross-axis cell pairs are provably empty
    import math

    eps = math.sqrt(2 - 2 * 0.9)
    radius = 0.05  # generous bound on the jittered cluster radius
    for i, j in itertools.combinations(range(4), 2):
        d = math.sqrt(2.0)  # orthogonal unit centers
        assert d > eps + 2 * radius  # pruned by construction


def test_block_verify_partitions_scale_with_rows(spark):
    """The block-verify stage's task count derives from the corpus row
    count (ceil(rows / _VERIFY_ROWS_PER_TASK), capped at
    defaultParallelism), not a flat defaultParallelism: each mapInPandas
    task pays a fixed Python-boundary setup cost, so a small gated
    corpus must not fan out to one near-empty task per core (round-13
    optimization — the 32-task verify of a 2k-row corpus measured ~40×
    more executor wait than CPU).  Scale-adaptivity is the pin: 1 task
    for a tiny frame, more tasks as rows grow, never past the core
    count."""
    from indra_db_spark.operators.similarity import (
        _VERIFY_ROWS_PER_TASK,
        _np_block_verify,
    )

    par = spark.sparkContext.defaultParallelism

    def mk(n):
        rows = [(i, [float(i % 7) + 1.0, 1.0], i % 3) for i in range(n)]
        return spark.createDataFrame(
            rows, "_id INT, _v ARRAY<DOUBLE>, _cell INT"
        )

    cases = [
        (16, 1),
        (3 * _VERIFY_ROWS_PER_TASK + 1, min(4, par)),
    ]
    for n, want in cases:
        df = _np_block_verify(mk(n), gate=-2.0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # repartition(1) prints as SinglePartition, >1 as RoundRobin(n)
        mark = (
            "Exchange SinglePartition"
            if want == 1
            else f"RoundRobinPartitioning({want})"
        )
        assert mark in plan, (n, want, plan)
    # gate=-2 admits every same-cell pair: the tiny frame must actually
    # produce survivors through the 1-task stage
    assert _np_block_verify(mk(16), gate=-2.0).count() > 0


def test_local_artifact_df_bounds_slice_count(spark):
    """Driver-built artifact frames (trained codebooks, probe lists)
    must not parallelize into one pickled slice per core: any scan of
    such a frame — e.g. the broadcast LUT build over the 128-row PQ
    codebook — would launch one Python-runner task per slice (round-13
    measurement: 8–9 executor-seconds of wait for 0.1 s of CPU).  The
    constructor derives the slice count from the row count, capped at
    defaultParallelism."""
    from indra_db_spark.session import (
        _LOCAL_DF_ROWS_PER_SLICE,
        local_artifact_df,
    )

    small = local_artifact_df(
        spark, [(i, i * 2) for i in range(128)], "a INT, b INT"
    )
    assert small.rdd.getNumPartitions() == 1
    assert small.count() == 128
    par = spark.sparkContext.defaultParallelism
    big = local_artifact_df(
        spark,
        [(i, i) for i in range(2 * _LOCAL_DF_ROWS_PER_SLICE + 1)],
        "a INT, b INT",
    )
    assert big.rdd.getNumPartitions() == min(3, par)


def test_neardup_imi_plan_and_prune(spark, sf_dir):
    """The IMI exact near-dup's plan contract: (a) NO CartesianProduct —
    candidates flow through equi-joins on the product-cell keys; (b) the
    ONLY Python in the plan is Arrow-batched MapInPandas (the
    sanctioned vectorized paths: the cell assignment behind the
    materialization barrier, and — since the round-13 optimization —
    the _verify_np block-matmul pair verify, whose survivors are
    re-verified by an exact JVM residual), never row-at-a-time
    BatchEvalPython.  Prune effectiveness
    uses the same orthogonal-cluster geometry as the flat-cell test:
    4 tight clusters on axes — half-1 carries the cluster identity, so
    the per-half bound certifies every cross-cluster cell pair empty,
    and the result stays exactly the brute force's."""
    from indra_db_spark.operators.similarity import cosine_neardup_imi
    from indra_db_spark.sources.lake import load_table
    from indra_db_spark.testing import cosine_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    df = cosine_neardup_imi(emb, threshold=0.9, k_half=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the pair/verify stage is pure JVM: the Arrow assignment
    # (MapInPandas) sits BEHIND the materialization barrier — the final
    # plan scans the checkpointed assignment (Scan ExistingRDD) and must
    # contain no Python evaluation of any kind
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the assignment is materialized (the final plan scans the
    # checkpointed rows), and the only Python node is the vectorized
    # _verify_np block verify — no other MapInPandas may appear
    assert "ExistingRDD" in plan
    import re

    assert all(
        "_verify_np" in m
        for m in re.findall(r"MapInPandas [^\n]*", plan)
    ), plan

    rows = []
    vid = 0
    for axis in range(4):
        for jitter in (0.0, 0.02, 0.04, -0.03):
            v = [0.0] * 8
            v[axis] = 1.0
            v[(axis + 4) % 8] = jitter
            rows.append((vid, v))
            vid += 1
    clustered = spark.createDataFrame(
        rows, "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    got = {
        (r.id_a, r.id_b)
        for r in cosine_neardup_imi(
            clustered, threshold=0.9, k_half=4
        ).collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in cosine_neardup_pairs(
            clustered, threshold=0.9, max_rows=None
        ).collect()
    }
    assert got == want and got
    assert all(a // 4 == b // 4 for a, b in got)


def test_quality_classifier_broadcasts_weights(spark, sf_dir):
    """The classifier's only state is the bounded weight table: scoring
    must broadcast it (never shuffle the corpus side for the join) and
    the per-doc aggregate must partial-aggregate before its exchange."""
    plan = _plan(spark, sf_dir, "doc_quality_classifier")
    assert "BroadcastHashJoin" in plan
    pre_shuffle = plan.split("Exchange hashpartitioning")[-1]
    assert "partial_count" in pre_shuffle or "partial" in pre_shuffle
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_adc_broadcasts_codebook_and_lut(spark, sf_dir):
    """The PQ search path's only stateful sides are the m·k codebook and
    the nq·m·k LUT — both must broadcast (the corpus code column never
    shuffles for a join), the plan must hold no cartesian product, and
    everything stays JVM-side."""
    plan = _plan(spark, sf_dir, "emb_pq_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivfpq_broadcasts_all_index_state(spark, sf_dir):
    """IVFPQ: codebook + LUT + candidate pruning joins all broadcast-
    hash; the only nested-loop is the deliberate ncell-row coarse-cell
    broadcast (every vector ranks every cell — an 8-row side, the same
    documented pattern as the single-row stats broadcasts); never a
    cartesian product, never Python."""
    plan = _plan(spark, sf_dir, "emb_ivfpq_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_attribution_is_an_equijoin_on_the_key(spark, sf_dir):
    # stream-stream-shaped interval join, batch face: equi-join on the
    # user key with the time band as a post-condition — never a
    # nested-loop over the interval, no cartesian
    plan = _plan(spark, sf_dir, "events_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kcore_degree_aggs_are_partial(spark, sf_dir):
    # every peel round's degree count must combine map-side (a hub's
    # degree rows collapse before the exchange — the skew immunity)
    plan = _plan(spark, sf_dir, "graph_kcore")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_er_blocking_join_shape(spark, sf_dir):
    # blocking join: equi-join on the block key (never |S| x |C| cross),
    # levenshtein verify inside codegen (no Python), best-match as a
    # partial min(struct) aggregate rather than a window sort
    plan = _plan(spark, sf_dir, "er_blocking_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()
    assert "Window" not in plan


def test_lake_profile_is_one_scan(spark, sf_dir):
    # every metric for every profiled column computes in ONE aggregate
    # over ONE scan (multi-distinct via Expand) — a profile that re-scans
    # per column is wrong at 100 TB
    plan = _plan(spark, sf_dir, "lake_profile")
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan


def test_gapfill_shares_key_partitioning(spark, sf_dir):
    # bucket-agg, grid explode, and LOCF window all hash on the key: the
    # plan may exchange for the (key,bucket) agg and once for the per-key
    # window/grid, but never per-step — and the in-bucket argmax must be
    # a partial max(struct), not a row_number window
    plan = _plan(spark, sf_dir, "events_gapfill")
    assert "partial_max" in plan or "partial max" in plan.lower()
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_increment_reads_materialized_bands(spark, sf_dir):
    # the frozen-index probe must not re-derive signature lineage per use:
    # candidates and both shingle sides sit behind compute-once barriers,
    # so the executed plan scans documents a bounded number of times
    from indra_db_spark.catalog import REGISTRY

    fn, _ = REGISTRY["doc_minhash_increment"]
    df = fn(spark, sf_dir)
    df.count()  # execute so localCheckpoint barriers materialize
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the verify stage reads checkpointed RDDs, not fresh parquet lineage
    assert "Scan ExistingRDD" in plan


def test_scd2_shares_one_key_partitioning(spark, sf_dir):
    # same-instant argmax is a partial max(struct) (map-side combinable),
    # and the agg + two windows all hash on the key: bounded exchanges,
    # no Python, no sort-merge explosion
    plan = _plan(spark, sf_dir, "events_scd2")
    assert "partial_max" in plan or "partial max" in plan.lower()
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pit_join_is_asof_not_range_join(spark, sf_dir):
    # the SCD2 lookup must compile to the union-merge as-of shape (one
    # window over the unioned sides), never a nested-loop interval join
    plan = _plan(spark, sf_dir, "events_pit_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan and "Union" in plan


def test_rolling_agg_single_window_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_rolling")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "RangeFrame" in plan or "specifiedwindowframe" in plan.lower()


def test_cooccur_caps_before_the_self_join(spark, sf_dir):
    # the pair generator must be an EQUI-join on the basket key (never a
    # cartesian pair blow-up) over the capped frame, and pair counting
    # must partial-agg; the cap itself lives behind the compute-once
    # barrier, so assert it on the un-checkpointed operator lineage
    # (the cap itself sits behind the compute-once localCheckpoint, which
    # rewrites lineage to a LogicalRDD — its pre-join placement is proven
    # semantically by test_cooccurrence_counts_and_cap)
    plan = _plan(spark, sf_dir, "events_cooccur")
    assert "partial_count" in plan or "partial count" in plan.lower()
    assert "CartesianProduct" not in plan
    assert "[_k#" in plan  # the self-join keys on the basket key


def test_ab_daily_touches_raw_log_once(spark, sf_dir):
    # one parquet scan: exposure and conversion reduce in the SAME
    # per-user aggregate behind a compute-once barrier; the four
    # downstream consumers read the checkpointed per-user frame
    from indra_db_spark.catalog import REGISTRY

    fn, _ = REGISTRY["events_ab_daily"]
    df = fn(spark, sf_dir)
    df.count()  # materialize the barrier
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan  # consumers read ExistingRDD only
    assert "Scan ExistingRDD" in plan


def test_labelprop_round_aggs_are_partial(spark, sf_dir):
    # the round body's neighbor-min must partial-agg (hub skew collapses
    # map-side); the full operator returns a checkpoint scan, so pin the
    # round body directly
    from indra_db_spark.operators.graph import _lp_round

    e = spark.createDataFrame([(1, 2), (2, 3)], ["s", "t"])
    lbl = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["id", "lbl"])
    plan = (
        _lp_round(e, lbl)._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_min" in plan or "partial min" in plan.lower()

    # ...and the assembled operator reads checkpointed labels, not
    # re-derived lineage
    from indra_db_spark.catalog import REGISTRY

    fn, _ = REGISTRY["graph_labelprop"]
    df = fn(spark, sf_dir)
    df.count()
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in full and "Scan parquet" not in full


def test_unpivot_is_expand_not_rescans(spark, sf_dir):
    # wide→long must be ONE scan + Expand (3 rows per input), never the
    # oracle's UNION ALL of three re-scans
    plan = _plan(spark, sf_dir, "lineitem_unpivot")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan  # reshaping needs no shuffle at all


def test_grouping_sets_single_pass(spark, sf_dir):
    # all four CUBE grains from one scan + Expand + partial agg
    plan = _plan(spark, sf_dir, "events_grouping_sets")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_winsorized_broadcasts_bounds(spark, sf_dir):
    # the per-type p05/p95 frame (≤ |types| rows) must broadcast into the
    # clip pass; raw volume is scanned for ranking and clipping only
    plan = _plan(spark, sf_dir, "events_winsorized")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") <= 2


def test_label_centroids_partial_agg_after_explode(spark, sf_dir):
    # posexplode is scan-fused (Generate, no shuffle before it); the only
    # exchange is the (label, dim) partial-agg shuffle
    plan = _plan(spark, sf_dir, "emb_label_centroids")
    assert "Generate" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan or "partial sum" in plan.lower()


def test_feature_scale_shares_one_window_exchange(spark, sf_dir):
    # rank, count, min, max all partition by event_type: one exchange
    plan = _plan(spark, sf_dir, "events_feature_scale")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 1


def test_bfs_rounds_read_checkpointed_frontier(spark, sf_dir):
    from indra_db_spark.catalog import REGISTRY

    fn, _ = REGISTRY["graph_bfs"]
    df = fn(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "Scan parquet" not in plan


def test_skew_report_one_scan_window_group_limit(spark, sf_dir):
    # the count frame is computed once behind a barrier (two consumers:
    # totals + join input), so the executed plan reads no parquet at all
    from indra_db_spark.catalog import REGISTRY

    fn, _ = REGISTRY["lake_skew_report"]
    df = fn(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan and "Scan ExistingRDD" in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan  # per-column totals broadcast


def test_ohlc_is_one_partial_agg_no_window(spark, sf_dir):
    # candlesticks from min/max(struct) argmins: one exchange, map-side
    # combine, never a per-key sort window
    plan = _plan(spark, sf_dir, "events_ohlc")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowExec" not in plan and "WindowGroupLimit" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_twap_shares_key_partitioning(spark, sf_dir):
    # same-instant collapse, the lead() window and the final ratio all
    # key on the user: bounded exchanges
    plan = _plan(spark, sf_dir, "events_twap")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_neighbor_agg_single_join_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_neighbor_agg")
    assert "partial_count" in plan or "partial count" in plan.lower()
    assert "CartesianProduct" not in plan


def test_langid_confusion_scans_text_once(spark, sf_dir):
    # the confusion frame is barriered (two consumers); the executed plan
    # reads only the checkpointed counts
    from indra_db_spark.catalog import REGISTRY

    fn, _ = REGISTRY["doc_langid_confusion"]
    df = fn(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan and "Scan ExistingRDD" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
