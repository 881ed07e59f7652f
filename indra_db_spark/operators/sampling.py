"""Corpus sampling and sharding operators for training-data pipelines.

Curated pretraining corpora need (a) per-stratum balancing (cap each
language/domain at a target size instead of letting one domain dominate),
and (b) a deterministic shuffle-and-shard step that turns a filtered corpus
into N equal-sized output shards whose membership is a pure function of the
document id.  Both are expressed as built-in DataFrame ops: one shuffle for
the stratified cap (window rank), zero shuffles for shard assignment (a
scan-fused projection; the writer's ``partitionBy("shard")`` or
``repartition("shard")`` does the only data movement).

The hash used everywhere is md5 of the decimal-rendered id — deliberately
engine-portable (any SQL engine reproduces the assignment bit-for-bit), the
same convention as ``operators.text.split_assign``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from indra_db_spark.plans.skipindex import (  # noqa: F401 - BLOOM_SCHEME re-exported
    BLOOM_K,
    BLOOM_M,
    BLOOM_SCHEME,
    _bloom_pos_sql,
)


def _id_hash(id_col: str):
    return F.md5(F.col(id_col).cast("string"))


def stratified_sample(
    df: DataFrame,
    strata_cols: tuple[str, ...],
    n_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """At most ``n_per_stratum`` rows per stratum, chosen deterministically:
    rows are ranked inside each stratum by (md5(id), id) — a stable
    pseudo-random order that is reproducible across runs, engines, and
    partitionings — and the top-N ranks are kept.

    Physical shape: ONE shuffle on the strata columns; Spark's
    WindowGroupLimit pushes the rank bound below the exchange, so each map
    task forwards at most N rows per stratum instead of the whole group.
    Skewed strata therefore cost shuffle volume O(strata × N), not O(rows).
    For sampling a *fraction* rather than a cap, filter on the hash bucket
    instead (see ``operators.text.split_assign``) — that form needs no
    shuffle at all.
    """
    w = Window.partitionBy(*strata_cols).orderBy(
        _id_hash(id_col), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def shard_assign(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic shard id in [0, n_shards) from the top 32 bits of
    md5(id): the shuffle-and-shard step of a training-data writer.

    Because md5 is uniform, shards are balanced to within sampling error
    regardless of id distribution (sequential ids, gaps, skew).  Adds a
    column only — no shuffle; downstream
    ``df.repartition(n_shards, "shard").write.partitionBy("shard")`` makes
    each shard one output directory with a single data movement.
    """
    h = F.conv(F.substring(_id_hash(id_col), 1, 8), 16, 10).cast("long")
    return df.withColumn("shard", (h % n_shards).cast("int"))


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark decontamination: training documents that share at least
    ``min_overlap`` distinct word n-grams with ANY test/benchmark document,
    with their overlap counts — the standard n-gram contamination check run
    before training on web-scale corpora.

    Shape: the test side collapses to a DISTINCT shingle set, which is tiny
    relative to the corpus (benchmarks are MBs, corpora are TBs) — it is
    broadcast, so the corpus shingles are matched MAP-SIDE and filtered to
    hits before anything shuffles; the only exchange carries the matching
    (doc, shingle) pairs (the contamination surface, ≪ corpus) into a
    distinct-shingle count per doc.  Never quadratic: documents are
    compared to the benchmark shingle set, not to each other.

    Returns (id, n_hits) for contaminated training docs; anti-join the
    result against the corpus to drop them.
    """
    from indra_db_spark.operators.dedup import word_shingles

    # distinct=False: within-doc duplicate shingles are cheaper to carry to
    # the countDistinct than a full-corpus (id, shingle) dedup shuffle —
    # the broadcast join discards non-hits before the only exchange
    tr = word_shingles(train, id_col, text_col, n, distinct=False)
    te = word_shingles(test, id_col, text_col, n).select("shingle").distinct()
    return (
        tr.join(F.broadcast(te), "shingle")
        .groupBy("id")
        .agg(F.count_distinct(F.col("shingle")).alias("n_hits"))
        .filter(F.col("n_hits") >= min_overlap)
    )


def temperature_weights(
    df: DataFrame,
    strata_cols: tuple[str, ...] = ("source",),
    weight_col: str = "n_chars",
) -> DataFrame:
    """Exponent-0.5 temperature smoothing of corpus mixture weights —
    (strata…, total, smooth, q_micro) where q_micro ∝ √total, in parts
    per million: the multilingual/domain sampling smoothing of
    mBERT/XLM-R (α = 0.5 exponential smoothing: rare strata are
    up-sampled toward, but not to, uniformity).

    Exactness discipline: the ONLY float op is ``sqrt``, which IEEE 754
    requires to be correctly rounded — so `FLOOR(SQRT(total)·1000)` is
    bit-identical on every engine, and everything after is integer
    (sum + one trailing integer division).  Arbitrary temperatures need
    ``pow``, a transcendental with engine-dependent rounding — excluded
    by the oracle discipline and not needed for the standard α = 0.5.

    int64 bounds (test_overflow_bounds conventions): smooth =
    ⌊√total·1e3⌋ and the final numerator smooth·1e6 stay inside int64 for
    per-stratum totals up to ~8.5e19 — six orders past a 1e13-token
    corpus.  Shape: one partial-agg shuffle over |strata| keys + a
    single-row grand-total broadcast (mixture_weights' shape exactly).
    """
    per = df.groupBy(*strata_cols).agg(
        F.sum(weight_col).cast("long").alias("total")
    )
    s = per.withColumn(
        "smooth",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(total AS DOUBLE)) * 1000) AS BIGINT)"
        ),
    )
    grand = s.agg(F.sum("smooth").cast("long").alias("_grand"))
    return (
        s.join(F.broadcast(grand))
        .withColumn(
            "q_micro",
            F.expr("CAST((smooth * CAST(1000000 AS BIGINT)) div _grand"
                   " AS BIGINT)"),
        )
        .drop("_grand")
    )


def bloom_build(shingles: DataFrame, m: int = BLOOM_M, k: int = BLOOM_K):
    """ONE-row frame holding a packed Bloom bitmap (map<int word, long
    mask>) over ``shingles.shingle`` — built distributively: explode to k
    positions per shingle, partial-agg ``bit_or`` over ≤ m/64 word keys,
    then a single map_from_entries fold.  The bitmap is ~m/8 bytes no
    matter how many members it holds — the whole point at 100 TB, where
    the benchmark-suite shingle set itself outgrows the broadcast budget
    but its bloom never does (10 bits/member vs ~30-byte shingle
    strings)."""
    pos = F.explode(
        F.array(*[F.expr(_bloom_pos_sql(i, m)) for i in range(k)])
    ).alias("p")
    return (
        shingles.select(pos)
        .select(
            F.expr("CAST(p div 64 AS INT)").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("mask"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "mask"))
            ).alias("bm")
        )
    )


def bloom_member_sql(i_range: int, m: int = BLOOM_M) -> str:
    """AND-of-k bit tests against map column ``bm`` for precomputed
    position columns p0..p{k-1} (map lookup order-independent, so the
    collect_list build order never matters)."""
    return " AND ".join(
        f"(coalesce(element_at(bm, CAST(p{i} div 64 AS INT)),"
        f" CAST(0 AS BIGINT))"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(p{i} % 64 AS INT))) != 0"
        for i in range(i_range)
    )


def decontaminate_bloom(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 2,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """:func:`decontaminate` for the scale where the benchmark shingle set
    itself is too big to broadcast — EXACTLY the same result, different
    physical shape.

    Generate-then-verify with a Bloom guard: the test shingles collapse
    into a fixed-size packed bitmap (:func:`bloom_build`, m/8 bytes
    regardless of membership) broadcast to every task; corpus shingles are
    pre-filtered MAP-SIDE by the k-bit test (no false negatives, so
    nothing exact is lost; false positives ≈ 2% just ride to the next
    stage).  Only the surviving candidates — the contamination surface
    plus the FP sliver, ≪ corpus — enter the exact verification join,
    which is a SHUFFLED hash join by construction (``hint("shuffle_hash")``)
    because at this operator's target scale the test side no longer fits
    a broadcast.  Same contract as :func:`decontaminate`: (id, n_hits)
    for training docs sharing ≥ ``min_overlap`` distinct n-grams with any
    benchmark doc.
    """
    from indra_db_spark.operators.dedup import word_shingles

    te = word_shingles(test, id_col, text_col, n).select("shingle").distinct()
    bloom = bloom_build(te, m, k)
    cand = (
        word_shingles(train, id_col, text_col, n, distinct=False)
        .join(F.broadcast(bloom))
        .select(
            "id",
            "shingle",
            "bm",
            *[
                F.expr(_bloom_pos_sql(i, m)).alias(f"p{i}")
                for i in range(k)
            ],
        )
        .filter(F.expr(bloom_member_sql(k, m)))
        .select("id", "shingle")
    )
    return (
        cand.join(te.hint("shuffle_hash"), "shingle")
        .groupBy("id")
        .agg(F.count_distinct(F.col("shingle")).alias("n_hits"))
        .filter(F.col("n_hits") >= min_overlap)
    )


def mixture_weights(
    df: DataFrame,
    strata_cols: tuple[str, ...] = ("source",),
    weight_col: str = "n_chars",
) -> DataFrame:
    """Per-stratum corpus share: (strata…, total, weight ∈ [0,1]) where
    weight = stratum total / corpus total of ``weight_col`` (chars or
    tokens) — the measurement step behind domain-mixture weighting
    (sampling a target blend of sources/languages for a training run).

    Shape: one partial-agg shuffle to the per-stratum totals, then the
    global total joins back as a broadcast of ~|strata| rows — the corpus
    is read once and never reshuffled for the denominator.
    """
    per = df.groupBy(*strata_cols).agg(F.sum(weight_col).alias("total"))
    denom = per.agg(F.sum("total").alias("_grand"))
    return (
        per.join(F.broadcast(denom))
        .withColumn("weight", F.col("total") / F.col("_grand"))
        .drop("_grand")
    )


def importance_sample(
    df: DataFrame,
    weight: "F.Column",
    id_col: str = "doc_id",
    salt: str = "is1",
) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep a row iff
    u(id) < weight, where u is a 16-bit uniform derived from
    md5(salt || id) — the mechanism behind classifier-score-weighted corpus
    resampling (keep high-quality documents with high probability, down-
    weight the rest, as in FineWeb-Edu/DCLM-style pipelines).

    Membership is a pure function of (salt, id, weight): stable across
    runs, engines, and partitionings, and re-runnable incrementally — new
    documents get sampled without disturbing prior decisions.  ``salt``
    decorrelates repeated draws over the same corpus.  ``weight`` is any
    column expression in [0, 1] (values outside are clamped).

    Shape: scan-fused projection + filter — no shuffle, no RNG state, and
    the filter pushes below any downstream exchange.
    """
    # the draw and clamped weight are part of the output contract (the
    # audit trail of the sampling decision) — but silently overwriting a
    # caller's existing u/weight column would corrupt their data, so
    # collide loudly instead
    taken = {"u", "weight"} & set(df.columns)
    if taken:
        raise ValueError(
            f"importance_sample writes columns {sorted(taken)} which "
            "already exist on the input — rename or drop them first"
        )
    m = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    u = F.conv(F.substring(m, 1, 4), 16, 10).cast("double") / F.lit(65536.0)
    w = F.least(F.greatest(weight, F.lit(0.0)), F.lit(1.0))
    return (
        df.withColumn("u", u)
        .withColumn("weight", w)
        .filter(F.col("u") < F.col("weight"))
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    size_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_streams: int = 8,
) -> DataFrame:
    """Assign documents to fixed-budget training packs: (stream, pack)
    where each pack accumulates ~``budget`` units of ``size_col`` — the
    batch-assembly step of a training pipeline (concatenate a pack's
    documents into one context window).

    Streams are md5-hash buckets of the id; within a stream documents are
    laid out in deterministic (md5(id), id) order and a running exclusive
    prefix sum assigns ``pack = floor(cum_before / budget)``.  Documents
    are never split: when every document fits the budget, each non-tail
    pack's total lands within one maximum-document-size of the budget (its
    start is offset by the previous pack's overflow and its end overflows
    by at most one document — the standard greedy-fill trade); a document
    larger than the budget claims its pack and the indices its overflow
    covers are skipped.  The layout is a pure function of the ids, so
    packs are stable across runs and engines.

    Shape: ONE hash-partitioned window shuffle; streams bound the window
    partitions so no single ordered partition must hold the whole corpus
    (n_streams scales with cluster width at 100 TB).
    """
    m = F.md5(F.col(id_col).cast("string"))
    stream = F.conv(F.substring(m, 1, 2), 16, 10).cast("int") % n_streams
    w = (
        Window.partitionBy("stream")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        df.withColumn("h", m)
        .withColumn("stream", stream)
        .withColumn("cum_before", F.coalesce(F.sum(size_col).over(w), F.lit(0)))
        .withColumn("pack", F.floor(F.col("cum_before") / budget).cast("int"))
    )
    return out.drop("h")


def write_corpus_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    fmt: str = "parquet",
) -> None:
    """Materialize a curated corpus as ``n_shards`` deterministic md5-bucket
    shards: ``path/shard=K/part-*.parquet``, one file per shard.

    ``repartition(n, "shard")`` is the single shuffle — it both co-locates
    each shard in one task (so ``partitionBy`` emits ONE file per shard
    directory instead of tasks × shards fragments) and is the writer's
    shuffle-and-shard step.  Readers get per-shard parallelism and
    partition pruning on the shard column.
    """
    out = shard_assign(df, n_shards, id_col)
    (
        out.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .format(fmt)
        .save(path)
    )


#: stage-barrier dirs written by :func:`corpus_pipeline_v2` and not yet
#: released.  Cleanup is EXPLICIT (:func:`release_barriers`) with an atexit
#: backstop, not GC-triggered: any DataFrame *derived* from the barrier
#: read still needs the parquet files at execution time, and those JVM
#: plan references are invisible to Python refcounting — deleting on
#: Python-handle GC would break `out2 = out.select(...); del out` callers.
#: Long-lived drivers call release_barriers() once downstream results are
#: materialized; short-lived jobs lean on the atexit backstop.
_BARRIER_DIRS: list[tuple[object, str]] = []


def release_barriers() -> int:
    """Delete every live corpus-pipeline stage-barrier dir (local or
    cluster scratch) → number removed.  Safe to call repeatedly; the
    same function is the atexit backstop."""
    from indra_db_spark.plans import fsutil

    n = 0
    while _BARRIER_DIRS:
        spark, path = _BARRIER_DIRS.pop()
        try:
            fsutil.delete(spark, path)
            n += 1
        except Exception:
            # backstop may outlive the JVM: fsutil.delete itself falls
            # back to shutil.rmtree for file:/scheme-less paths when the
            # gateway is gone; only remote schemes land here, where
            # nothing driver-side can remove them anyway
            pass
    return n


def _barrier_dir(spark, prefix: str, what: str = "the parquet stage barrier") -> str:
    """A fresh scratch dir for the >256 MB parquet stage barrier that is
    visible to EVERY executor — on a cluster the barrier write commits
    task files from many hosts, so a driver-local tempdir would read back
    missing/partial data (r8 ADVICE #1).  Resolution order:

    1. ``spark.indra_db_spark.barrierDir`` (explicit scratch root),
    2. the Spark checkpoint dir (already required to be cluster-visible),
    3. local tempdir — ONLY under a ``local[*]`` master; a cluster master
       with neither setting raises instead of silently corrupting.
    """
    import uuid

    from indra_db_spark.plans import fsutil

    root = spark.conf.get("spark.indra_db_spark.barrierDir", None)
    if not root:
        try:
            root = spark.sparkContext.getCheckpointDir()
        except Exception:
            root = None
    if root:
        path = fsutil.join(root, prefix + uuid.uuid4().hex)
        fsutil.mkdirs(spark, path)
    else:
        if not spark.sparkContext.master.startswith("local"):
            raise RuntimeError(
                f"{what} needs a cluster-visible scratch dir on "
                "non-local masters: set spark.indra_db_spark.barrierDir "
                "or sparkContext.setCheckpointDir(...)"
            )
        import tempfile

        # pin the fallback to the LOCAL filesystem explicitly: a
        # scheme-less path resolves through fs.defaultFS, which can be
        # non-local even under a local[*] master, and the mkdtemp dir
        # would then never be the dir Spark writes to (r9 ADVICE #2)
        path = "file://" + tempfile.mkdtemp(prefix=prefix)
    if not _BARRIER_DIRS:
        import atexit

        atexit.register(release_barriers)
    _BARRIER_DIRS.append((spark, path))
    return path


def corpus_pipeline_v2(
    docs: DataFrame,
    span_k: int = 4,
    lm_gate_micro: int = 34_000,
    pack_budget: int = 512,
    test_mod: int = 41,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The composed training-corpus pipeline: substring-span dedup
    REWRITE (Lee et al. 2022 keep-one-copy) → self-trained bigram-LM
    familiarity gate (integer cross-multiply, no float boundary) →
    benchmark decontamination of the rewritten text against the held-out
    ``id % test_mod`` slice → fixed-budget sequence packing →
    (id, n_removed_words, n_tokens, stream, cum_before, pack).

    The ONE copy of the composition: the catalog entry
    (``doc_corpus_pipeline_v2``, full DuckDB oracle) and the scale probe
    both run this function, so the thing proven correct IS the thing
    measured.  Each stage keeps its proven plan (positional-gram shuffle
    bounded by the duplicated surface; vocabulary-bounded LM count
    joins; broadcast benchmark shingles; one stream-hash pack window)
    and stages hand off by id joins — Catalyst pipelines the whole
    composition into one job.
    """
    from indra_db_spark.operators.dedup import (
        _materialize,
        remove_duplicate_spans,
    )
    from indra_db_spark.operators.text import bigram_lm_score

    rw = remove_duplicate_spans(
        docs, k=span_k, id_col=id_col, text_col=text_col
    )
    # stage handoff: checkpoint blocks for ordinary sizes, a compressed
    # parquet barrier past the gate — the §7 "persists become
    # write.parquet barriers" seam made automatic.  At the sf100-
    # equivalent probe (5M docs) the rewritten-text checkpoint plus the
    # downstream LM shuffles overran a single node's scratch disk
    # (SPILL_OUT_OF_MEMORY: No space left on device); columnar snappy
    # parquet stores the same handoff ~10× smaller and reads back with
    # full column pruning.  The gate samples Catalyst's size estimate —
    # zero extra jobs, same discipline as operators/graph.py:_sized_ckpt.
    # gate calibration: Catalyst's estimate for this plan tracks the
    # input scan bytes (~0.5× the parquet size on the fixtures — 301 KB
    # at sf0.1, ~0.4 GB at the 853 MB sf100-equivalent corpus), so
    # 256 MB ≈ a ~0.5 GB parquet input: two decades above every bench
    # fixture, safely below the scale where checkpoint blocks overran
    # the probe node's disk
    try:
        est_bytes = int(min(
            rw._jdf.queryExecution().optimizedPlan().stats().sizeInBytes(),
            2**62,
        ))
    except Exception:
        # stats shape varies across Spark versions (non-int JavaObject,
        # absent stats) — default to the barrier, the side that survives
        # scale; the small-scale cost is one extra parquet write
        # (same guard discipline as operators/graph.py:_sized_ckpt)
        est_bytes = 2**62
    if est_bytes > 256 * 1024**2:
        barrier_dir = _barrier_dir(docs.sparkSession, "corpus_v2_barrier_")
        rw.write.mode("overwrite").parquet(barrier_dir)
        rw = docs.sparkSession.read.parquet(barrier_dir)
    else:
        rw = _materialize(rw)
    lm = bigram_lm_score(rw, id_col=id_col, text_col="clean_text")
    lmkeep = lm.filter(
        F.col("sum_p_micro")
        >= F.lit(lm_gate_micro).cast("long") * F.col("n_bigrams")
    ).select(id_col)
    surv0 = rw.join(lmkeep, id_col).filter(F.col(id_col) % test_mod != 0)
    contam = decontaminate(
        surv0.select(id_col, F.col("clean_text").alias(text_col)),
        docs.filter(F.col(id_col) % test_mod == 0),
        id_col=id_col,
        text_col=text_col,
        min_overlap=2,
    )
    sv = surv0.join(
        contam.select(F.col("id").alias(id_col)), id_col, "left_anti"
    ).select(
        id_col,
        "n_removed_words",
        F.size(F.split("clean_text", " ")).cast("int").alias("n_tokens"),
    )
    return pack_sequences(
        sv, budget=pack_budget, size_col="n_tokens", id_col=id_col
    ).select(
        id_col, "n_removed_words", "n_tokens", "stream",
        F.col("cum_before").cast("long").alias("cum_before"), "pack",
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Version diff between two corpus snapshots → (id, status) for every
    document that is ``added``, ``removed`` or ``changed`` (content
    fingerprint differs) — the audit step between training-data releases
    (what moved between v1 and v2, before anyone retrains on it).

    Content identity is md5 of the text, so the diff is exact and
    order-independent; unchanged documents produce NO row (the diff is
    sparse — O(churn), not O(corpus), which is what makes it cheap to
    materialize per release).  One full-outer join on the id, both sides
    reduced to (id, fingerprint) projections first so the join never
    carries document bodies.
    """
    o = old.select(
        F.col(id_col).alias("id"), F.unhex(F.md5(F.col(text_col))).alias("_fo")
    )
    n = new.select(
        F.col(id_col).alias("id"), F.unhex(F.md5(F.col(text_col))).alias("_fn")
    )
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("_fo").isNull(), F.lit("added"))
        .when(F.col("_fn").isNull(), F.lit("removed"))
        .when(F.col("_fo") != F.col("_fn"), F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(F.col("id").alias(id_col), "status")
    )


def curate_increment(
    new_docs: DataFrame,
    known_fingerprints: DataFrame,
    lm_model,
    benchmark: DataFrame,
    lm_gate_micro: int | None = None,
    calibration_docs: DataFrame | None = None,
    lm_gate_quantile: float = 0.5,
    decontam_n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental (daily-drop) corpus curation: the frozen-artifact twin
    of :func:`corpus_pipeline_v2` for NEW documents arriving against an
    existing corpus → surviving (id, text, n_tokens, split).

    Stages, every one stateless against frozen state so the increment
    never rescans history:

    1. novelty — md5-fingerprint anti-join against the corpus's known
       fingerprints plus in-batch dedup (`streaming/ingest.py:
       incremental_new_docs` semantics, batch form);
    2. quality — Gopher gates ∧ repetition gate (pure column exprs);
    3. LM familiarity — scored against the BATCH-TRAINED
       :class:`~indra_db_spark.operators.text.BigramLmModel` (CCNet
       deployment shape: model trained offline, applied to the drop);
       the gate threshold is CORPUS-DERIVED: the rank-selected
       ``lm_gate_quantile`` of the calibration corpus's own per-doc
       floored mean score (``sum_p_micro div n_bigrams``), computed by
       :func:`~indra_db_spark.operators.topk.rank_quantile_value`.  An
       ABSOLUTE ``lm_gate_micro`` is scale-dependent — vocabulary grows
       with the corpus, per-bigram probabilities shrink, and a fixed
       threshold's selectivity collapses to zero (a production daily
       drop would be 100% discarded silently); the quantile gate keeps
       "at least as familiar as the q-quantile training document"
       meaningful at every corpus size.  Passing ``lm_gate_micro``
       explicitly still selects the absolute gate (deployments that
       calibrated the constant per-corpus).
    4. decontamination — ``decontam_n``-gram overlap against the frozen
       benchmark's shingle set (broadcast).  The default is 5 words, NOT
       the 3 used by standalone :func:`decontaminate` demos: short
       shingles false-positive at a rate that grows with benchmark size
       (a 3-gram space saturates once the benchmark holds a few hundred
       documents, flagging ~everything), which is why production
       decontamination uses long n-grams (GPT-3 used 13-grams, Gopher
       8-grams).  Real overlap — a document actually containing
       benchmark text — still hits many long shingles;
    5. split assignment — pure id-hash, so increments never reshuffle
       earlier days' splits.

    Scoring the training corpus itself against its own model reproduces
    the batch gates exactly (score_docs_with_lm ≡ bigram_lm_score on the
    training corpus), which is the parity the test pins — and is exactly
    how the quantile threshold is calibrated (train-time artifact, like
    the model itself).
    """
    from indra_db_spark.operators.text import (
        gopher_rules,
        repetition_features,
        score_docs_with_lm,
        split_assign,
    )
    from indra_db_spark.operators.topk import rank_quantile_value
    from indra_db_spark.streaming.ingest import incremental_new_docs

    if lm_gate_micro is None and calibration_docs is None:
        raise ValueError(
            "curate_increment: pass calibration_docs (quantile gate) or an "
            "explicit lm_gate_micro (absolute gate)"
        )

    fresh = incremental_new_docs(
        new_docs, known_fingerprints, text_col=text_col
    ).drop("fp")
    g = (
        gopher_rules(fresh, text_col=text_col, id_col=id_col)
        .filter(F.col("passed") == 1)
        .select(id_col)
    )
    r = (
        repetition_features(fresh, text_col=text_col, id_col=id_col)
        .filter(F.col("repetitive") == 0)
        .select(id_col)
    )
    lm = score_docs_with_lm(fresh, lm_model, id_col=id_col, text_col=text_col)
    if lm_gate_micro is not None:
        lmkeep = lm.filter(
            F.col("sum_p_micro")
            >= F.lit(lm_gate_micro).cast("long") * F.col("n_bigrams")
        ).select(id_col)
    else:
        # floored mean keeps the gate integer-exact cross-engine (both
        # operands non-negative, so Spark's truncating `div` and SQL `//`
        # agree); the threshold joins as a broadcast single row — no
        # driver round-trip, the calibration scan stays one job
        cal = score_docs_with_lm(
            calibration_docs, lm_model, id_col=id_col, text_col=text_col
        ).withColumn("score", F.expr("sum_p_micro div n_bigrams"))
        thr = rank_quantile_value(cal, "score", lm_gate_quantile)
        lmkeep = (
            lm.withColumn("score", F.expr("sum_p_micro div n_bigrams"))
            .crossJoin(F.broadcast(thr))
            .filter(F.col("score") >= F.col("thr"))
            .select(id_col)
        )
    contam = decontaminate(
        fresh, benchmark, id_col=id_col, text_col=text_col,
        n=decontam_n, min_overlap=2,
    )
    kept = (
        fresh.join(g, id_col)
        .join(r, id_col)
        .join(lmkeep, id_col)
        .join(contam.select(F.col("id").alias(id_col)), id_col, "left_anti")
    )
    return (
        kept.join(
            split_assign(kept.select(id_col), id_col=id_col), id_col
        )
        .select(
            id_col,
            text_col,
            F.size(F.split(text_col, " ")).cast("int").alias("n_tokens"),
            "split",
        )
    )
