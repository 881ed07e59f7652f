"""Transaction-log catalog entries — the txlog SERVING path under the
driver's hard oracle gate.

The txlog layer (plans/txlog.py: optimistic manifests, DV merge-on-read
deletes, RESTORE) is the engine's largest post-r7 component and was
previously verified only by pytest (the 50+ race/conflict/crash matrix);
``txlog_dv_read`` puts its READ path — the thing a 100-TB serving tier
actually executes — under the same DuckDB oracle every relational entry
answers to (r8 verdict #5 / r9 top-next).

Reference parity: the reference serves its readonly tier from dumped
principal snapshots (indra_db/readonly_dumping + util/dump_mgmt); the
txlog-served lake is this engine's equivalent of that snapshot serving
boundary, with row-level deletes and rollback added.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from indra_db_spark.catalog import register
from indra_db_spark.sources.lake import load_table as T

#: columns the entry round-trips through the transaction log
_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]


@register(
    "txlog_dv_read",
    f"""
    SELECT {', '.join(_COLS)}
    FROM orders
    WHERE o_orderkey % 97 = 0 AND NOT (o_orderstatus = 'F')
    """,
)
def txlog_dv_read(spark, sf):
    """End-to-end txlog serving check: write a deterministic ``orders``
    slice through :class:`~indra_db_spark.plans.txlog.TxTable` as TWO
    appends (the snapshot read unions multiple manifests' file lists),
    apply a merge-on-read deletion-vector DELETE, apply a SECOND DV
    delete, RESTORE to the boundary between them, and read the head
    snapshot.  The surviving rows must equal plain SQL over the source
    table with only the FIRST delete applied — so the oracle hash fails
    if DV sidecars are not anti-joined at read, if the second delete
    leaks through the restore, or if the restore rolls back too far.

    Scratch resolution reuses the corpus barrier's cluster-visible rule
    (explicit conf -> checkpoint dir -> local temp only under local[*])
    with process-exit cleanup; the returned DataFrame reads the txlog
    snapshot lazily, so the data path stays fully distributed — nothing
    is collected to the driver."""
    from indra_db_spark.operators.sampling import _barrier_dir
    from indra_db_spark.plans.txlog import TxTable

    sliced = (
        T(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(*_COLS)
    )
    root = _barrier_dir(spark, "txlog_dv_read_", what="txlog_dv_read")
    tx = TxTable(spark, root)
    # the second append pushes the live file count past
    # INLINE_MANIFEST_FILES, so from v2 on the manifests are SEGMENTED
    # (round 10) — the gate then also fails if segment write/resolution,
    # the remove-rewrite of intersected segments, or restore-over-segments
    # corrupts the file list
    tx.append(sliced.filter(F.col("o_orderkey") % 194 == 0).repartition(24))
    tx.append(sliced.filter(F.col("o_orderkey") % 194 != 0).repartition(48))
    tx.delete_where(F.col("o_orderstatus") == "F", mode="dv")
    v_second = tx.delete_where(F.col("o_totalprice") > 150000.0, mode="dv")
    # roll back whenever the second delete COMMITTED — even when the
    # first matched nothing (then v_second-1 is the last append): the
    # oracle applies only the first predicate, so a v_first-gated guard
    # would leak the second delete at a scale factor where no 'F' row
    # falls in the slice
    if v_second is not None:
        tx.restore(v_second - 1)
    # targeted DV materialization is a LAYOUT action: folding the
    # surviving delete into fresh files must leave the answer untouched,
    # so the same oracle also gates materialize_dv (round 10)
    tx.materialize_dv(min_sidecars=1)
    return tx.read().select(*_COLS)


@register(
    "txlog_skip_read",
    f"""
    SELECT {', '.join(_COLS)}
    FROM orders
    WHERE o_orderkey % 7 = 0
      AND o_totalprice >= 50000.0 AND o_totalprice <= 100000.0
    """,
)
def txlog_skip_read(spark, sf):
    """Manifest-stats pruning under the oracle (round 10): write an
    ``orders`` slice through the txlog range-partitioned on
    ``o_totalprice`` with ``set_stats_columns`` active, then answer a box
    predicate via :meth:`TxTable.skip_read` — the driver-side
    manifest-stats prune plus the exact residual filter must equal plain
    SQL, and the entry asserts the prune actually engaged (files_read <
    files_total) so a silently stats-less manifest fails loudly rather
    than degrading to a full scan."""
    from indra_db_spark.operators.sampling import _barrier_dir
    from indra_db_spark.plans.txlog import TxTable

    sliced = (
        T(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(*_COLS)
    )
    root = _barrier_dir(spark, "txlog_skip_read_", what="txlog_skip_read")
    tx = TxTable(spark, root)
    tx.set_stats_columns("o_totalprice")
    tx.append(sliced.repartitionByRange(8, "o_totalprice"))
    df, files_read, files_total = tx.skip_read(
        predicates={"o_totalprice": (50000.0, 100000.0)}
    )
    if not files_read < files_total:
        raise AssertionError(
            f"manifest-stats prune did not engage: read {files_read} of "
            f"{files_total} files for a box on the range-partition key"
        )
    return df.select(*_COLS)


@register(
    "algebra_txlog_hash_lookup",
    """
    SELECT o_orderkey AS mk_hash,
           o_custkey  AS ev_count,
           o_totalprice AS belief
    FROM orders WHERE o_orderkey IN (1, 7, 77, 777, 1337)
    """,
)
def algebra_txlog_hash_lookup(spark, sf):
    """The query algebra's point-lookup leaf served THROUGH the
    transaction log's manifest stats (round 11, r10 verdict next-round
    #7): ``orders`` is committed as a txlog-backed ``source_meta`` with
    mk_hash bloom words + ev_count range stats
    (``set_stats_columns(..., bloom=...)``), the lake records the
    handle, and :class:`plans.queries.HasHash` routes its IN-list
    through :meth:`TxTable.skip_read` — the entry asserts the prune
    ENGAGED (files_read < files_total), i.e. the btree-replacement path
    runs end to end, before the oracle hash-match against plain SQL.
    The reference answers the same query via the clustered mk_hash
    btree (readonly_schema.py:635-637)."""
    from indra_db_spark.operators.sampling import _barrier_dir
    from indra_db_spark.plans.lake import CORE_TABLES, ReadonlyLake
    from indra_db_spark.plans.queries import HasHash
    from indra_db_spark.plans.txlog import TxTable

    sm = T(spark, sf, "orders").select(
        F.col("o_orderkey").alias("mk_hash"),
        F.col("o_custkey").alias("ev_count"),
        F.col("o_totalprice").alias("belief"),
    )
    root = _barrier_dir(spark, "algebra_tx_", what="algebra_txlog")
    tx = TxTable(spark, f"{root}/source_meta")
    # bloom budget sized for the largest sweep SF: sf0.1 puts ~19k
    # distinct hashes in each of the 8 files; 2^17 bits / k=3 keeps the
    # per-file load ≈ 0.43 (FPR ≈ 4%), so a 5-hash probe admits ~5 files
    tx.set_stats_columns("ev_count", bloom=("mk_hash",), bloom_m=1 << 17)
    tx.append(sm.repartition(8))
    lake = ReadonlyLake.from_txlog(
        spark,
        root,
        extra={t: sm.limit(0) for t in CORE_TABLES if t != "source_meta"},
    )
    keys = [1, 7, 77, 777, 1337]
    lake.prune_log.clear()
    out = HasHash(keys).hashes(lake)
    if not lake.prune_log:
        raise AssertionError("HasHash did not route through skip_read")
    _, files_read, files_total = lake.prune_log[-1]
    if not files_read < files_total:
        raise AssertionError(
            f"manifest bloom prune did not engage: read {files_read} of "
            f"{files_total} files for a 5-hash point lookup"
        )
    return out.select("mk_hash", "ev_count", "belief")


@register(
    "algebra_txlog_mesh_lookup",
    """
    SELECT DISTINCT o_orderkey AS mk_hash,
           CAST(o_custkey AS INT) AS ev_count,
           o_totalprice AS belief
    FROM orders WHERE o_orderkey % 211 IN (5, 17)
    """,
)
def algebra_txlog_mesh_lookup(spark, sf):
    """FromMeshIds served through the transaction log's manifest blooms
    (round 12, r11 verdict next-round #3): ``orders`` is committed as a
    txlog-backed ``mesh_term_meta`` with mesh_num bloom words
    (``TXLOG_STATS``'s mesh config), and the algebra leaf routes its
    mesh IN-list through :meth:`TxTable.skip_read` — the entry asserts
    the prune ENGAGED (files_read < files_total) before the oracle
    hash-match.  The reference answers the same query via its clustered
    mesh_num index (readonly_schema.py:635-637 family)."""
    from indra_db_spark.operators.sampling import _barrier_dir
    from indra_db_spark.plans.lake import CORE_TABLES, ReadonlyLake
    from indra_db_spark.plans.queries import FromMeshIds
    from indra_db_spark.plans.txlog import TxTable

    mesh = T(spark, sf, "orders").select(
        F.col("o_orderkey").alias("mk_hash"),
        (F.col("o_orderkey") % 211).cast("int").alias("mesh_num"),
        F.col("o_custkey").cast("int").alias("ev_count"),
        F.col("o_totalprice").alias("belief"),
    )
    root = _barrier_dir(spark, "algebra_mesh_", what="algebra_txlog_mesh")
    tx = TxTable(spark, f"{root}/mesh_term_meta")
    # the table's lookup key is hash-clustered (the maintenance layout:
    # a given mesh_num lives in ONE file), so a 2-id probe admits ~2 of
    # the 8 files via their bloom words
    tx.set_stats_columns("ev_count", bloom=("mesh_num",))
    tx.append(mesh.repartition(8, "mesh_num"))
    lake = ReadonlyLake.from_txlog(
        spark,
        root,
        extra={
            t: mesh.drop("mesh_num").limit(0)
            for t in CORE_TABLES
            if t != "mesh_term_meta"
        },
    )
    lake.prune_log.clear()
    out = FromMeshIds(["D5", "D17"]).hashes(lake)
    if not lake.prune_log:
        raise AssertionError("FromMeshIds did not route through skip_read")
    _, files_read, files_total = lake.prune_log[-1]
    if not files_read < files_total:
        raise AssertionError(
            f"manifest bloom prune did not engage: read {files_read} of "
            f"{files_total} files for a 2-mesh-id lookup"
        )
    return out.select("mk_hash", "ev_count", "belief")


@register(
    "serving_statement_page",
    """
    WITH ev AS (
        SELECT l_orderkey AS mk_hash,
               l_orderkey * 10 + l_linenumber AS id,
               l_suppkey AS reading_id,
               l_returnflag AS src
        FROM lineitem
        WHERE l_orderkey IN (1, 7, 77, 777, 1337)
    ), top AS (
        SELECT ev.*,
               ROW_NUMBER() OVER (PARTITION BY mk_hash ORDER BY id) AS rn
        FROM ev
    )
    SELECT t.mk_hash, t.id, t.src,
           s.s_name AS pmid,
           CAST(s.s_suppkey AS INT) AS trid
    FROM top t LEFT JOIN supplier s ON t.reading_id = s.s_suppkey
    WHERE t.rn <= 3
    """,
)
def serving_statement_page(spark, sf):
    """The get_statements EVIDENCE hot path served through the
    transaction log (round 13, r12 verdict next-round #1): ``lineitem``
    stands in for ``fast_raw_pa_link`` (one row per evidence, many per
    statement hash), committed txlog-backed with mk_hash bloom words,
    and :func:`plans.shaping.get_evidence_page` routes a bounded page of
    hashes through :meth:`TxTable.skip_read` — then bounds evidence per
    statement (the reference's lateral-join ev_limit, query.py:489-506)
    and left-joins the text-ref metadata (``supplier`` standing in for
    ``reading_ref_link``).  The entry asserts the prune ENGAGED
    (files_read < files_total): before round 13 this path full-scanned
    the plain evidence frame on every statement page.  The reference
    lands the same fetch on the fast_raw_pa_link mk_hash index
    (readonly_schema.py:320-357)."""
    from indra_db_spark.operators.sampling import _barrier_dir
    from indra_db_spark.plans.lake import CORE_TABLES, ReadonlyLake
    from indra_db_spark.plans.shaping import get_evidence_page
    from indra_db_spark.plans.txlog import TxTable

    frpl = T(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("mk_hash"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_suppkey").cast("long").alias("reading_id"),
        F.col("l_returnflag").alias("src"),
        F.lit(None).cast("binary").alias("raw_json"),
    )
    rrl = T(spark, sf, "supplier").select(
        F.col("s_suppkey").cast("long").alias("rid"),
        F.col("s_name").alias("pmid"),
        F.lit(None).cast("string").alias("pmcid"),
        F.lit(None).cast("string").alias("doi"),
        F.col("s_suppkey").cast("int").alias("trid"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("string").alias("reader"),
    )
    root = _barrier_dir(spark, "serving_page_", what="serving_statement_page")
    tx = TxTable(spark, f"{root}/fast_raw_pa_link")
    # same budget rationale as algebra_txlog_hash_lookup: sized so the
    # per-file bloom load stays useful at the largest sweep SF; the page
    # key is hash-clustered (the maintenance layout), so a 5-hash page
    # admits ~5 of the 8 files
    tx.set_stats_columns(bloom=("mk_hash",), bloom_m=1 << 17)
    tx.append(frpl.repartition(8, "mk_hash"))
    empty = frpl.select("mk_hash", "id").limit(0)
    lake = ReadonlyLake.from_txlog(
        spark,
        root,
        extra={
            "reading_ref_link": rrl,
            **{t: empty for t in CORE_TABLES},
        },
    )
    page = [1, 7, 77, 777, 1337]
    lake.prune_log.clear()
    out = get_evidence_page(lake, page, ev_limit=3)
    if not lake.prune_log:
        raise AssertionError(
            "statement-page evidence fetch did not route through skip_read"
        )
    _, files_read, files_total = lake.prune_log[-1]
    if not files_read < files_total:
        raise AssertionError(
            f"manifest bloom prune did not engage: read {files_read} of "
            f"{files_total} evidence files for a 5-hash page"
        )
    return out.select("mk_hash", "id", "src", "pmid", "trid")


@register(
    "stream_matview_rollup",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_vm
    FROM (SELECT event_type, value FROM events
          WHERE value IS NOT NULL AND event_id IS NOT NULL
            AND event_id % 3 = 0)
    GROUP BY event_type
    """,
)
def stream_matview_rollup(spark, sf):
    """The streaming exactly-once protocol under the hard oracle gate
    (round 11, r10 verdict next-round #6): a REAL Structured Streaming
    query (parquet source, maxFilesPerTrigger=1, availableNow) drives
    :func:`streaming.ingest.maintain_rollup_stream` — per micro-batch,
    ``append_batch`` lands the rows in a fact TxTable and ``merge_batch``
    folds :func:`plans.ivm.incremental_agg`'s recomputed groups into a
    view TxTable, both idempotent via the per-writer batch-id watermark
    the manifests carry.  The stream is then REPLAYED from a fresh
    checkpoint under the same writer id: every batch must be recognized
    and skipped — the view table's version may not move — before the
    maintained view is returned for the hash match against the oracle's
    monolithic GROUP BY.  Fails if the watermark protocol duplicates a
    batch, if the IVM fold diverges from the rebuild, or if the replayed
    stream commits anything.  Values fold in integer micros so both
    engines agree bit-for-bit.

    Round 12 (r11 verdict next-round #4): the sink also runs its
    in-stream MAINTENANCE cadence (``maintain_every=2`` with thresholds
    low enough to fire at this scale), so the replay-commits-nothing
    assertion now also proves the exactly-once watermark SURVIVES
    maintenance — layout-only commits interleaved with the batches, and
    none at all on the replay (the cadence is gated on committed
    batches)."""
    from indra_db_spark.operators.sampling import _barrier_dir
    from indra_db_spark.plans.txlog import TxTable
    from indra_db_spark.streaming.ingest import maintain_rollup_stream

    src = (
        T(spark, sf, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_id").isNotNull()
            & (F.col("event_id") % 3 == 0)
        )
        .select(
            "event_type",
            F.floor(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
        )
    )
    root = _barrier_dir(spark, "stream_mv_", what="stream_matview_rollup")
    in_dir = f"{root}/in"
    src.repartition(3).write.parquet(in_dir)  # 3 files -> 3 micro-batches
    n_src = src.count()

    def _run(ckpt: str):
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        maintain_rollup_stream(
            stream,
            f"{root}/fact",
            f"{root}/view",
            ["event_type"],
            ["vm"],
            checkpoint_dir=ckpt,
            app_id="stream_mv_writer",
            maintain_every=2,
            maintain_kwargs=dict(
                max_file_mb=16, target_file_mb=64, small_min_files=2
            ),
        )

    _run(f"{root}/ckpt1")
    view = TxTable(spark, f"{root}/view")
    fact = TxTable(spark, f"{root}/fact")
    v_view, v_fact = view.snapshot()[0], fact.snapshot()[0]
    if fact.read().count() != n_src:
        raise AssertionError("fact table missed or duplicated batches")
    # full replay, fresh checkpoint, SAME writer id: the manifests'
    # watermark must skip every batch — exactly-once under replay
    _run(f"{root}/ckpt2")
    if (view.snapshot()[0], fact.snapshot()[0]) != (v_view, v_fact):
        raise AssertionError(
            "replayed stream committed: batch-id watermark failed"
        )
    return view.read().select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_vm").cast("bigint").alias("sum_vm"),
    )
