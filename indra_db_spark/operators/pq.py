"""Product quantization for embedding columns — the ANN *memory* story.

At 100 TB the dominant cost of similarity search is not compute but
holding the vectors: 64 float32 dims = 256 B/vector, while an m=8,
k=16 product code is 8 nibbles — a 32-64x compression that is what
actually lets a candidate scan live in memory at corpus scale (FAISS
IVFPQ; Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011).  This module is that pipeline:

* :func:`pq_train` — per-subspace k-means codebooks, data-seeded and
  Lloyd-iterated a FIXED number of rounds in pure integer arithmetic
  (the PageRank discipline from operators/graph.py: integer fixed-point
  makes the whole trajectory partition-independent, so a DuckDB oracle
  can replay training round for round).
* :func:`pq_encode` — nearest-centroid code per (vector, subspace):
  the stored artifact, m small ints per vector.
* :func:`pq_adc_topk` — asymmetric-distance top-k: each query builds an
  m x k lookup table of squared distances to every centroid
  (tiny — broadcast), and a candidate's score is ONE LUT lookup per
  subspace summed; the corpus side never touches floats again.

Integer quantization contract: vector components are mapped to
``floor(x * scale) + offset`` (BIGINT).  ``offset`` MUST exceed
``scale * max|x|`` so every quantized value is non-negative — that is
what keeps the Lloyd update's floored mean (``sum div count``)
cross-engine exact, because Spark's ``div`` truncates toward zero while
SQL ``//`` floors, and they agree only on non-negative operands.  A
common shift leaves every squared distance unchanged, so search
results are shift-invariant.  The default (scale 1000, offset 4096)
covers any embedding with components in (-4, 4); normalized embeddings
are in [-1, 1].

Overflow bounds (int64): per-dim diff² ≤ (2·offset)² = 6.7e7; a
subspace distance ≤ dsub·6.7e7 and an ADC score ≤ d·6.7e7 — at
d = 4096 dims that is 2.7e11, six orders inside int64.  Counts in the
Lloyd update are corpus-bounded BIGINTs.

Reference parity note: the reference has no vector search at all; this
extends the beyond-reference similarity family
(operators/similarity.py) with its at-scale memory layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from indra_db_spark.session import local_artifact_df

#: quantization: milli units, shifted non-negative
SCALE = 1_000
OFFSET = 4_096


def _quant_lambda_sql(scale: int, offset: int) -> str:
    """The per-element quantization lambda as SQL text — the same
    ``floor(x·scale)+offset`` BIGINT map the Column form built."""
    return f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * {scale}) + {offset} AS BIGINT)"


def quantize_subvectors(
    emb: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    offset: int = OFFSET,
    dim: int | None = None,
) -> DataFrame:
    """(id, s, q) — one row per (vector, subspace), ``q`` the integer-
    quantized subvector (array<bigint> of d/m dims).  A narrow map +
    posexplode: no shuffle, fused into the scan.  ``dim`` skips the
    dimension-sniffing ``first()`` (required for streaming frames, where
    an eager action is illegal).

    The whole projection is ONE parsed selectExpr: the previous m
    ``F.transform(..., lambda)`` columns cost ~30 py4j round-trips each
    of DRIVER time per call (~0.2 s per call at m=8, ×3 calls per PQ
    lifecycle — measured via cProfile, guide §7.3), while a SQL string
    is a single round-trip parsing to the identical expression tree."""
    d = dim if dim is not None else len(emb.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"pq: dim {d} not divisible by m={m}")
    dsub = d // m
    lam = _quant_lambda_sql(scale, offset)
    arr = ",".join(
        f"transform(slice({_bq(vec_col)}, {s * dsub + 1}, {dsub}), {lam})"
        for s in range(m)
    )
    return emb.selectExpr(
        f"{_bq(id_col)} AS id", f"posexplode(array({arr})) AS (s, q)"
    )


def _bq(name: str) -> str:
    """Backtick-quote a caller-supplied column name for SQL-text
    interpolation, escaping embedded backticks (r13 ADVICE #2).  Names
    must be TOP-LEVEL identifiers: a dotted path like ``meta.vec`` is
    quoted as one literal name here (the parsed-SQL fast paths do not
    resolve nested fields — select the field to a top-level column
    first, as every in-repo caller does)."""
    return "`" + str(name).replace("`", "``") + "`"


#: unroll _sqdist only for short subvectors: small flat chains beat the
#: interpreted fold, but LONG left-nested Add chains blow up Catalyst
#: planning and janino compilation (measured: a 64-term unrolled chain
#: was ~4× slower end to end than the fold it replaced)
_SQDIST_UNROLL_MAX = 16


def _sqdist(q, cent, dsub: int | None = None):
    """Integer squared distance between two equal-length long arrays.

    ``dsub`` (when the subvector length is known at plan time AND short)
    unrolls the higher-order fold into a flat chain — integer adds, so
    the value is identical in any order, and the chain keeps the fold's
    order anyway.  Long subvectors keep the fold: giant literal chains
    cost more in planning/compilation than they save in eval."""
    if dsub is not None and dsub <= _SQDIST_UNROLL_MAX:
        acc = F.lit(0).cast("long")
        for i in range(dsub):
            d = q[i] - cent[i]
            acc = acc + d * d
        return acc
    return F.aggregate(
        F.zip_with(q, cent, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sqdist_sql(q: str, cent: str, dsub: int | None = None) -> str:
    """:func:`_sqdist` as SQL text over expression strings ``q``/``cent``
    (same unroll gate, same fold, same left-assoc add order) — one parsed
    expression instead of ~5 py4j round-trips per unrolled term."""
    if dsub is not None and dsub <= _SQDIST_UNROLL_MAX:
        terms = "+".join(
            f"(({q}[{i}])-({cent}[{i}]))*(({q}[{i}])-({cent}[{i}]))"
            for i in range(dsub)
        )
        return f"CAST(0 AS BIGINT)+{terms}"
    return (
        f"aggregate(zip_with({q}, {cent}, (a, b) -> (a - b) * (a - b)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


#: codebook-row ceiling for the literal-assignment path (m·k rows — an
#: index HYPERPARAMETER product, so it is driver-small at any corpus
#: scale; the gate only guards pathological caller-supplied codebooks)
_CODEBOOK_LIT_MAX = 4096


def _lit_bigint_arrays_sql(arrays) -> str:
    """``array(array(<bigint>…)…)`` as SQL text.

    Per-element ``F.lit`` costs one py4j round-trip each (~1 ms — a
    16×16×4 codebook would spend ~1 s of DRIVER time per call just
    building the tree); one parsed string is a single round-trip and
    Catalyst folds it to a single Literal."""
    inner = ",".join(
        "array(" + ",".join(f"{int(v)}L" for v in a) + ")" for a in arrays
    )
    return f"array({inner})"


def _lit_bigint_arrays(arrays) -> "F.Column":
    """Column form of :func:`_lit_bigint_arrays_sql`."""
    return F.expr(_lit_bigint_arrays_sql(arrays))


def _assign_code_lit(q_name: str, s_name: str, cents, dsub: int | None = None):
    """Nearest-centroid code for columns (``q_name``, ``s_name``) against
    DRIVER-RESIDENT centers ``cents[s][c]`` — a pure column expression:
    no codebook join, no per-(id, s) exchange, the whole assignment is a
    narrow map fused into the scan (guide §2.4).  Identical integers and
    the identical (distance, centroid-index) tie-break as
    :func:`_assign`'s ``min(struct(_d, c))``: ``array_min`` over (d, c)
    structs is the same lexicographic minimum.

    Built as ONE parsed SQL expression: the Column form (transform +
    zip_with lambdas + an unrolled per-term fold) cost ~100 py4j
    round-trips of driver time per call (guide §7.3)."""
    k = len(cents[0])
    lit = (
        "array(" + ",".join(_lit_bigint_arrays_sql(cs) for cs in cents) + ")"
    )
    ds = (
        f"transform(element_at({lit}, {_bq(s_name)} + 1), "
        f"cent -> {_sqdist_sql(_bq(q_name), 'cent', dsub)})"
    )
    return F.expr(
        f"array_min(zip_with({ds}, sequence(0, {k - 1}), "
        f"(d, i) -> named_struct('d', d, 'c', i))).c"
    )


def _collect_codebook(codebook: DataFrame):
    """(s, c, cent) rows → dense ``cents[s][c]`` lists, or None when the
    codebook is over the literal budget / not contiguously indexed (then
    the join path runs).  A codebook freshly trained in this session
    carries its centers as ``_pq_cents`` — no job at all."""
    cached = getattr(codebook, "_pq_cents", None)
    if cached is not None:
        return cached
    rows = codebook.limit(_CODEBOOK_LIT_MAX + 1).collect()
    if not rows or len(rows) > _CODEBOOK_LIT_MAX:
        return None
    by_s: dict[int, dict[int, list[int]]] = {}
    for r in rows:
        by_s.setdefault(int(r["s"]), {})[int(r["c"])] = [
            int(x) for x in r["cent"]
        ]
    s_vals = sorted(by_s)
    if s_vals != list(range(len(s_vals))):
        return None
    k = len(by_s[0])
    cents = []
    for s in s_vals:
        if sorted(by_s[s]) != list(range(k)):
            return None
        cents.append([by_s[s][c] for c in range(k)])
    return cents


def _assign(
    sub: DataFrame, codebook: DataFrame, dsub: int | None = None
) -> DataFrame:
    """Nearest centroid per (id, s): k-way join + deterministic argmin
    (distance, then centroid index — integer distances, so the tie-break
    is exact cross-engine).  The codebook is m·k rows — broadcast.

    The argmin is a ``min(struct(_d, c, q))`` partial aggregation, not a
    row_number window: lexicographic struct-min over the UNIQUE (_d, c)
    prefix picks exactly the window's (distance, centroid-index) winner,
    but aggregates map-side — the k-way join's fan-out collapses back to
    one row per (id, s) before the exchange, and the per-partition sort
    the window needed disappears (guide §2.3 'aggregate before you
    shuffle')."""
    d = sub.join(F.broadcast(codebook), "s").withColumn(
        "_d", F.expr(_sqdist_sql("`q`", "`cent`", dsub))
    )
    return (
        d.groupBy("id", "s")
        .agg(F.min(F.struct("_d", "c", "q")).alias("_m"))
        .select(
            "id", "s", F.col("_m.c").alias("code"), F.col("_m.q").alias("q")
        )
    )


def pq_train(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    offset: int = OFFSET,
    dim: int | None = None,
) -> DataFrame:
    """Train per-subspace codebooks → (s, c, cent: array<bigint>).

    Seeding is deterministic data rows (the k smallest ids' subvectors —
    exactness of downstream search never depends on seed quality, only
    quantization error does), then ``rounds`` Lloyd iterations: integer
    argmin assignment, per-dim floored-mean update, empty clusters keep
    their previous centroid.  Each round is one broadcast join + ONE
    partial-agg shuffle over (s, c) — never a shuffle of the
    corpus text/vector payload, and the trajectory is integer so it is
    partition-independent and oracle-replayable.
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    sub = quantize_subvectors(emb, m, id_col, vec_col, scale, offset, dim)
    return train_codebook_from_sub(sub, k, rounds, dsub=dim // m)


def train_codebook_from_sub(
    sub: DataFrame, k: int, rounds: int, dsub: int | None = None
) -> DataFrame:
    """The Lloyd loop of :func:`pq_train` over an arbitrary (id, s, q)
    subvector frame — shared by plain PQ (quantized subvectors) and
    residual PQ (shifted residual subvectors).  ``q`` entries must be
    non-negative: the per-dim update is a floored mean, and Spark's
    truncating ``div`` only agrees with DuckDB's ``//`` on non-negative
    operands.

    The codebook (m·k rows — a HYPERPARAMETER product, driver-small at
    any corpus scale, exactly as in FAISS) lives on the DRIVER: each
    round is one narrow literal-center assignment fused with one
    (s, code) partial-agg collect — no codebook broadcast join, no
    per-(id, s) exchange of the corpus, no per-round checkpoint (the
    former loop planned ~2 exchanges + 1 checkpoint per round).  The
    trajectory is bit-identical to the distributed loop it replaces:
    same integer argmin with the same (distance, index) tie-break, same
    integer sums (order-independent), and Python ``//`` on the
    non-negative sums equals Spark's ``div``.  Per round at 100 TB this
    removes a corpus-sized shuffle, leaving the unavoidable scan."""
    spark = sub.sparkSession
    empty_schema = "s INT, c INT, cent ARRAY<BIGINT>"
    # cache the quantized frame: it feeds every round + the caller's
    # encode; recomputing it per round would rescan the lake each time
    sub = sub.localCheckpoint(eager=False)
    if dsub is None:
        r0 = sub.select("q").first()
        if r0 is None:
            return local_artifact_df(spark, [], empty_schema)
        dsub = len(r0["q"])
    # seeding: the k smallest ids' subvectors per s (every id carries
    # every s, so the global k smallest ids ARE the per-s k smallest —
    # one TakeOrdered instead of a corpus row_number window), centroid
    # index = ascending-id rank, as before
    ids = [
        r["id"]
        for r in sub.filter(F.col("s") == 0)
        .select("id")
        .orderBy("id")
        .limit(k)
        .collect()
    ]
    if not ids:
        return local_artifact_df(spark, [], empty_schema)
    rank = {v: i for i, v in enumerate(ids)}
    cb = {
        (int(r["s"]), rank[r["id"]]): [int(x) for x in r["q"]]
        for r in sub.filter(F.col("id").isin(ids))
        .select("s", "id", "q")
        .collect()
    }
    s_vals = sorted({s for s, _ in cb})
    k_eff = len(ids)
    if s_vals != list(range(len(s_vals))):
        raise ValueError(f"pq: non-contiguous subspace ids {s_vals[:8]}")
    for _ in range(rounds):
        cents = [[cb[(s, c)] for c in range(k_eff)] for s in s_vals]
        code = _assign_code_lit("q", "s", cents, dsub)
        # empty clusters keep their previous centroid (absent from upd)
        for r in (
            sub.groupBy("s", code.alias("code"))
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[F.sum(F.col("q")[i]).alias(f"_s{i}") for i in range(dsub)],
            )
            .collect()
        ):
            n = int(r["_n"])
            cb[(int(r["s"]), int(r["code"]))] = [
                int(r[f"_s{i}"]) // n for i in range(dsub)
            ]
    out = local_artifact_df(
        spark,
        [(s, c, cb[(s, c)]) for s in s_vals for c in range(k_eff)],
        empty_schema,
    )
    # stash the driver-resident centers on the wrapper so same-session
    # consumers (_collect_codebook) skip the re-collect job entirely
    out._pq_cents = [[cb[(s, c)] for c in range(k_eff)] for s in s_vals]
    return out


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    offset: int = OFFSET,
    dim: int | None = None,
) -> DataFrame:
    """(id, s, code) — the compressed corpus representation (m small ints
    per vector; the wide array form is one pivot away but the exploded
    form is what ADC consumes).

    With a driver-small codebook (always, for real index parameters) the
    assignment is a literal-center narrow map fused into the scan — no
    broadcast join and no (id, s) exchange of the corpus; an oversized
    caller-supplied codebook falls back to the join path."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    sub = quantize_subvectors(emb, m, id_col, vec_col, scale, offset, dim)
    cents = _collect_codebook(codebook)
    if cents is not None:
        return sub.select(
            "id",
            "s",
            _assign_code_lit("q", "s", cents, dim // m).alias(
                "code"
            ),
        )
    return _assign(sub, codebook, dim // m).select("id", "s", "code")


def pq_adc_topk(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k_top: int = 5,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    offset: int = OFFSET,
    dim: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes → (query_id, neighbor_id,
    adist, rank).

    The per-query LUT (m·k squared distances between the query's REAL
    quantized subvectors and every centroid) is nq·m·k rows — broadcast;
    the corpus side is one equi-join on (s, code) + a partial-agg sum +
    a per-query top-k window.  No float, no full-vector read: the scan
    side touches only the m-int code column, which is the whole point
    at 100 TB."""
    from pyspark.sql import Window

    if dim is None:
        dim = len(queries.select(vec_col).first()[0])
    qsub = quantize_subvectors(queries, m, id_col, vec_col, scale, offset, dim)
    lut = (
        qsub.withColumnRenamed("id", "query_id")
        .join(codebook, "s")
        .select(
            "query_id",
            "s",
            F.col("c").alias("code"),
            F.expr(_sqdist_sql("`q`", "`cent`", dim // m)).alias("ld"),
        )
    )
    scores = (
        codes.withColumnRenamed("id", "neighbor_id")
        .join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("ld").cast("long").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k_top)
    )


def coarse_cells_from_seeds(
    emb: DataFrame,
    ncell: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    offset: int = OFFSET,
    dim: int | None = None,
) -> DataFrame:
    """(cell, cvec) — deterministic coarse quantizer: the ``ncell``
    smallest ids' FULL integer-quantized vectors (the same pinned-seed
    rule as the IVF/near-dup entries: recall depends on seed quality,
    exactness of the pipeline never does; production swaps in k-means
    centers).

    The seed pick is ``orderBy(id).limit(ncell)`` — a TakeOrdered over
    the corpus (per-partition top-ncell, merged on the driver) — instead
    of a single-partition global-sort window; the trailing rank window
    then runs over only ncell rows to number the cells."""
    from pyspark.sql import Window

    full = quantize_subvectors(emb, 1, id_col, vec_col, scale, offset, dim)
    w = Window.partitionBy("s").orderBy("id")
    return (
        full.orderBy("id")
        .limit(ncell)
        .withColumn("_rk", F.row_number().over(w))
        .select((F.col("_rk") - 1).alias("cell"), F.col("q").alias("cvec"))
    )


def _cell_rank(
    emb_or_q, cells, id_col, vec_col, scale, offset, dim: int | None = None
):
    """(id, cell, crn) — rank of every coarse cell per vector by integer
    L2, deterministic (distance, cell) tie-break.  The rank is a
    size-bounded ``array_sort`` over the per-id collected (distance,
    cell) pairs when the caller guarantees nothing — kept as the generic
    window form here; hot paths with a driver-resident coarse table use
    :func:`_ranked_cells_lit` instead (no join, no window)."""
    from pyspark.sql import Window

    full = quantize_subvectors(emb_or_q, 1, id_col, vec_col, scale, offset, dim)
    w = Window.partitionBy("id").orderBy("_d", "cell")
    return (
        full.join(F.broadcast(cells), F.lit(True))
        .withColumn("_d", F.expr(_sqdist_sql("`q`", "`cvec`", dim)))
        .withColumn("crn", F.row_number().over(w))
        .select("id", "cell", "crn")
    )


#: max coarse-table rows inlined as literal centers into the assignment
#: expression: past this the plan itself (ncell·dim literals) outgrows
#: codegen budgets and the join/Arrow paths win — at the production
#: sizing ncell ≈ √N the served path uses :func:`cell_assign_arrow`.
_COARSE_LIT_MAX = 1024


def _ranked_cells_lit(q_name: str, cents, cell_ids, n: int):
    """Ids of the ``n`` nearest coarse cells to the integer-quantized
    column ``q_name`` by squared L2 against LITERAL centers with
    (distance, cell) tie-break — the integer analog of
    similarity._ranked_cells: a pure column expression (one fold per
    center), so corpus assignment is a narrow map with NO ncell-way join
    and NO per-id window (``cents`` must be sorted by ``cell_ids``
    ascending so the positional tie-break equals the cell-id tie-break).

    One parsed literal + one shared fold instead of a per-center
    expression tree (ncell·dim F.lit round-trips cost ~1 ms each of
    DRIVER time per call), and the WHOLE ranking is one parsed SQL
    string instead of ~8 higher-order-function builders (~16 ms of py4j
    each, guide §7.3); same longs, same fold order."""
    lit_cents = _lit_bigint_arrays_sql(cents)
    fold = _sqdist_sql(_bq(q_name), "cent", None)
    ids = "array(" + ",".join(str(int(cid)) for cid in cell_ids) + ")"
    return F.expr(
        f"transform(slice(transform(array_sort(zip_with("
        f"transform({lit_cents}, cent -> {fold}), "
        f"sequence(0, {len(cents) - 1}), "
        f"(d, i) -> named_struct('d', d, 'i', i))), s -> s.i), 1, {n}), "
        f"p -> element_at({ids}, p + 1))"
    )


def _quant_full(vec_col: str, dim: int, scale: int, offset: int):
    """Whole-vector integer quantization — the same per-element transform
    as :func:`quantize_subvectors` with m=1 (floor(x·scale)+offset as
    BIGINT), without the posexplode.  One parsed expression."""
    return F.expr(
        f"transform({_bq(vec_col)}, {_quant_lambda_sql(scale, offset)})"
    )


def _fused_assign_encode_arrow(
    emb: DataFrame,
    cents,
    cell_ids,
    cb_cents,
    m: int,
    id_col: str,
    vec_col: str,
    scale: int,
    offset: int,
) -> DataFrame:
    """(neighbor_id, cell, _codes) — coarse cell AND the m PQ codes from
    ONE pass over the corpus, vectorized (guide §4.2): each Arrow batch
    pays one quantization plus one (batch × dim) @ (dim × ncell) matmul
    for the cell and m (batch × dsub) @ (dsub × k) matmuls for the
    codes; only (id, cell, m codes) come back across the boundary.

    Replaces two JVM passes (assignment + encoding, re-joined on id)
    whose per-center ``zip_with``/``aggregate`` folds are interpreted —
    higher-order functions have no codegen — at ~1 ms/row (measured:
    the fold-form fused projection was 1.5–8× slower than even the
    two-pass shape; this pass removes both).

    Exactness (same argument as :func:`cell_assign_arrow`, whose parity
    is test-pinned): quantized components are integers and every
    intermediate stays far below 2⁵³, so the float64 matmuls are EXACT
    integer arithmetic; ``argmin`` returns the FIRST minimum over
    centers pre-sorted by cell id / code, which IS the (distance, cell)
    / (distance, code) lexicographic tie-break of the JVM folds."""
    id_type = dict(emb.dtypes)[id_col]

    def _batches(batches):
        import numpy as np
        import pandas as pd

        C = np.array(cents, dtype=np.float64)
        cell_arr = np.array(cell_ids, dtype=np.int64)
        c_sq = (C * C).sum(axis=1)
        B = np.array(cb_cents, dtype=np.float64)  # m × k × dsub
        dsub = B.shape[2]
        b_sq = (B * B).sum(axis=2)  # m × k
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.floor(
                np.array(list(pdf[vec_col]), dtype=np.float64) * scale
            ) + offset
            d = (V * V).sum(axis=1, keepdims=True) - 2.0 * (V @ C.T) + c_sq
            cell = cell_arr[d.argmin(axis=1)]
            codes = np.empty((len(V), m), dtype=np.int32)
            for s in range(m):
                Vs = V[:, s * dsub:(s + 1) * dsub]
                ds = (
                    (Vs * Vs).sum(axis=1, keepdims=True)
                    - 2.0 * (Vs @ B[s].T)
                    + b_sq[s]
                )
                codes[:, s] = ds.argmin(axis=1)
            yield pd.DataFrame({
                "neighbor_id": pdf[id_col],
                "cell": cell,
                "_codes": list(codes),
            })

    return emb.select(id_col, vec_col).mapInPandas(
        _batches, f"neighbor_id {id_type}, cell int, _codes array<int>"
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    ncell: int = 8,
    nprobe: int = 3,
    m: int = 8,
    k: int = 16,
    rounds: int = 2,
    k_top: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    offset: int = OFFSET,
    coarse: DataFrame | None = None,
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
    assign: DataFrame | None = None,
) -> DataFrame:
    """IVF + PQ composed — the FAISS IVFADC layout with
    ``by_residual=False``: the coarse quantizer PRUNES (each query scores
    only the vectors living in its ``nprobe`` nearest cells) and the
    global PQ codes SCORE (asymmetric distance, broadcast LUT).

    Residual encoding (PQ over v − coarse_centroid, FAISS's default) is
    the sibling :func:`ivfpq_residual_topk`: residuals go negative and
    the floored-mean Lloyd update is cross-engine exact only on
    non-negative operands, which the constant ``R_OFFSET`` shift fixes
    (L2 is translation-invariant).  This shared-codebook variant remains
    the cheaper index (one LUT per query instead of one per
    query×probed-cell).

    Scale shape: candidate volume per query is the probed cells'
    population (corpus/ncell·nprobe expected), never the corpus; the
    coarse table (ncell rows), codebook (m·k rows) and LUT (nq·m·k rows)
    all broadcast; the big side exchanges once for the (query, neighbor)
    partial-agg sum.  Pass pre-built ``coarse``/``codebook``/``codes``
    to amortize index construction across query batches (the
    build-once/probe-many production path); pass ``assign`` (the
    corpus→cell map, i.e. the inverted lists — (neighbor_id, cell)) to
    also amortize the corpus-wide coarse assignment, which is otherwise
    recomputed per call and dominates at scale (Θ(N·ncell) — the
    round-9 probe's super-linear final decade was exactly this).  The
    fully-served path with cell-partitioned storage is
    :func:`ivfpq_write_index` / :func:`ivfpq_query_index`."""
    from pyspark.sql import Window

    # ONE dimension sniff for the whole lifecycle — train, encode,
    # assignment and LUT all reuse it (each quantize_subvectors call
    # otherwise runs its own first() job against the lake)
    dim = len(emb.select(vec_col).first()[0])
    if coarse is None:
        coarse = coarse_cells_from_seeds(
            emb, ncell, id_col, vec_col, scale, offset, dim
        )
    if codebook is None:
        codebook = pq_train(
            emb, m, k, rounds, id_col, vec_col, scale, offset, dim
        )
    # coarse assignment: when the coarse table is driver-small (it is an
    # index artifact — ncell rows), inline it as literal centers so BOTH
    # the corpus assignment and the query probes become narrow maps (no
    # ncell-way broadcast join, no per-id window shuffle); identical
    # integers, identical (distance, cell) tie-break.  A caller-passed
    # big coarse table keeps the generic join path.
    crows = coarse.orderBy("cell").limit(_COARSE_LIT_MAX + 1).collect()
    lit_ok = 0 < len(crows) <= _COARSE_LIT_MAX
    cb_cents = _collect_codebook(codebook) if lit_ok else None
    # FUSED corpus pass (round 13, guide §1.2/§2.3): when nothing is
    # caller-amortized and both quantizers are driver-small, derive the
    # coarse cell AND the m PQ codes from ONE quantized column in ONE
    # scan of the corpus (previously: one scan+quantize for the
    # assignment, a second for the encoding, joined back on neighbor_id
    # — at scale that is two full corpus passes and a corpus-wide join
    # exchange).  Codes stay packed in an array and explode only AFTER
    # the probe prune, so the heavy middle carries candidate rows, not
    # N·m code rows.  Identical integers: slice-then-quantize equals
    # quantize-then-slice elementwise, and _assign_code_lit folds the
    # same (distance, code) lexicographic minimum per subspace.
    fused = lit_ok and assign is None and codes is None and (
        cb_cents is not None
    )
    if codes is None and not fused:
        codes = pq_encode(
            emb, codebook, m, id_col, vec_col, scale, offset, dim
        )
    if lit_ok:
        cents = [list(r["cvec"]) for r in crows]
        cell_ids = [int(r["cell"]) for r in crows]
        # quantize into a COLUMN first so the per-center folds read it
        # instead of re-evaluating the quantization ncell times per row
        if fused:
            base = _fused_assign_encode_arrow(
                emb, cents, cell_ids, cb_cents, m, id_col, vec_col,
                scale, offset,
            )
        elif assign is None:
            assign = emb.select(
                F.col(id_col).alias("neighbor_id"),
                _quant_full(vec_col, dim, scale, offset).alias("_qf"),
            ).select(
                "neighbor_id",
                F.element_at(
                    _ranked_cells_lit("_qf", cents, cell_ids, 1), 1
                ).alias("cell"),
            )
        probes = queries.select(
            F.col(id_col).alias("query_id"),
            _quant_full(vec_col, dim, scale, offset).alias("_qf"),
        ).select(
            "query_id",
            F.explode(
                _ranked_cells_lit("_qf", cents, cell_ids, nprobe)
            ).alias("cell"),
        )
    else:
        if assign is None:
            assign = (
                _cell_rank(emb, coarse, id_col, vec_col, scale, offset, dim)
                .filter(F.col("crn") == 1)
                .select(F.col("id").alias("neighbor_id"), "cell")
            )
        probes = (
            _cell_rank(queries, coarse, id_col, vec_col, scale, offset, dim)
            .filter(F.col("crn") <= nprobe)
            .select(F.col("id").alias("query_id"), "cell")
        )
    if fused:
        # probes are query-batch-bounded (nq·nprobe rows) — broadcast
        # them explicitly so the corpus side never shuffles (guide §3.1;
        # the same boundedness assumption the broadcast LUT already
        # carries)
        cand_codes = (
            F.broadcast(probes)
            .join(base, "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.posexplode("_codes").alias("s", "code"),
            )
        )
    else:
        cand = (
            probes.join(assign, "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
        )
        cand_codes = cand.join(
            codes.withColumnRenamed("id", "neighbor_id"), "neighbor_id"
        )

    qsub = quantize_subvectors(queries, m, id_col, vec_col, scale, offset, dim)
    lut = (
        qsub.withColumnRenamed("id", "query_id")
        .join(codebook, "s")
        .select(
            "query_id",
            "s",
            F.col("c").alias("code"),
            F.expr(_sqdist_sql("`q`", "`cent`", dim // m)).alias("ld"),
        )
    )
    scores = (
        cand_codes.join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("ld").cast("long").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k_top)
    )


def cell_assign_arrow(
    emb: DataFrame,
    coarse: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    offset: int = OFFSET,
) -> DataFrame:
    """(id, cell) — nearest coarse cell per corpus vector, computed as
    ONE Arrow matmul per batch instead of :func:`_cell_rank`'s N×ncell
    expression join.  The build-time assignment path for LARGE cell
    counts: at the production sizing ncell ≈ √N, the expression join is
    Θ(N·√N) exploded rows, while here each batch costs one
    (batch × d) @ (d × ncell) product.

    Exactness: quantized components are integers and every intermediate
    (squares ≤ d·(2·offset)², cross terms) stays far below 2⁵³, so the
    float64 matmul is EXACT integer arithmetic; ties break (distance,
    cell) like ``_cell_rank`` because ``argmin`` scans cells in
    ascending cell order.  Parity with the expression join is pinned in
    tests.  The coarse table is an index artifact (ncell rows) —
    collected once, shipped in the task closure."""
    rows = coarse.orderBy("cell").collect()
    if not rows:
        raise ValueError("cell_assign_arrow: empty coarse quantizer")
    id_type = dict(emb.dtypes)[id_col]

    def _assign_batches(batches):
        import numpy as np
        import pandas as pd

        C = np.array([r["cvec"] for r in rows], dtype=np.float64)
        cell_ids = np.array([r["cell"] for r in rows], dtype=np.int64)
        c_sq = (C * C).sum(axis=1)
        for pdf in batches:
            if not len(pdf):
                continue
            V = (
                np.array(list(pdf[vec_col]), dtype=np.float64) * scale
            )
            V = np.floor(V) + offset
            d = (V * V).sum(axis=1, keepdims=True) - 2.0 * (V @ C.T) + c_sq
            a = d.argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "cell": cell_ids[a]})

    src = emb.select(F.col(id_col).alias("id"), vec_col)
    return src.mapInPandas(_assign_batches, f"id {id_type}, cell int")


def ivfpq_write_index(
    emb: DataFrame,
    path: str,
    ncell: int = 8,
    m: int = 8,
    k: int = 16,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    offset: int = OFFSET,
    coarse: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> None:
    """Materialize the FAISS inverted-list layout on disk: PQ codes
    stored PARTITIONED BY COARSE CELL (``<path>/codes/cell=<i>/``), plus
    the coarse quantizer and codebook as tiny sidecar tables.  This is
    the build half of the served ANN path — run it per index rebuild,
    then answer every query batch with :func:`ivfpq_query_index`, which
    reads ONLY the probed cells' partitions.

    Why this beats recomputing: :func:`ivfpq_topk`'s per-batch cost has
    two corpus-proportional terms even with prebuilt artifacts — the
    corpus→cell assignment join and the full codes scan.  Storing codes
    by cell eliminates both: assignment happens once HERE (Arrow
    matmul, :func:`cell_assign_arrow`), and the query path's partition
    pruning reduces the scan to nprobe/ncell of the corpus.  At the
    production sizing ncell ≈ √N the per-batch cost is
    Θ(nq·(ncell + nprobe·N/ncell)) = Θ(nq·√N) — measured in
    SCALE_PROBE.json (``ivfpq_served``).

    One shuffle on cell sizes output files ≈ one per cell (the
    inverted-list file layout); everything else is the narrow encode
    lineage."""
    dim = len(emb.select(vec_col).first()[0])
    if coarse is None:
        coarse = coarse_cells_from_seeds(
            emb, ncell, id_col, vec_col, scale, offset, dim
        )
    if codebook is None:
        codebook = pq_train(
            emb, m, k, rounds, id_col, vec_col, scale, offset, dim
        )
    codes = pq_encode(emb, codebook, m, id_col, vec_col, scale, offset, dim)
    assign = cell_assign_arrow(emb, coarse, id_col, vec_col, scale, offset)
    coarse.write.mode("overwrite").parquet(f"{path}/coarse")
    codebook.write.mode("overwrite").parquet(f"{path}/codebook")
    (
        codes.withColumnRenamed("id", "neighbor_id")
        .join(assign.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )


def ivfpq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 3,
    k_top: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    offset: int = OFFSET,
) -> DataFrame:
    """Serve an ANN query batch from an :func:`ivfpq_write_index` layout
    → (query_id, neighbor_id, adist, rank), bit-identical to
    :func:`ivfpq_topk` over the same artifacts (pinned in tests).

    The probed cells are resolved DRIVER-side (≤ min(nq·nprobe, ncell)
    values — a bounded index-metadata read, the same resolution FAISS
    does in-process) and pushed into the codes read as a STATIC
    partition filter, so the scan plans `PartitionFilters: cell IN …`
    and touches only those directories — never the corpus.  m and the
    subspace geometry come from the stored codebook, not from caller
    arguments that could drift from the index."""
    from pyspark.sql import Window

    coarse = spark.read.parquet(f"{path}/coarse")
    codebook = spark.read.parquet(f"{path}/codebook")
    mrow = codebook.agg(F.max("s").alias("m")).first()
    m = int(mrow["m"]) + 1
    probes = (
        _cell_rank(queries, coarse, id_col, vec_col, scale, offset)
        .filter(F.col("crn") <= nprobe)
        .select(F.col("id").alias("query_id"), "cell")
    )
    probe_rows = probes.collect()  # bounded: ≤ nq·nprobe rows
    cells = sorted({r["cell"] for r in probe_rows})
    probe_df = local_artifact_df(spark, probe_rows, probes.schema)

    qsub = quantize_subvectors(queries, m, id_col, vec_col, scale, offset)
    lut = (
        qsub.withColumnRenamed("id", "query_id")
        .join(codebook, "s")
        .select(
            "query_id",
            "s",
            F.col("c").alias("code"),
            F.expr(_sqdist_sql("`q`", "`cent`")).alias("ld"),
        )
    )
    scores = (
        spark.read.parquet(f"{path}/codes")
        .filter(F.col("cell").isin(cells))
        .join(F.broadcast(probe_df), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("ld").cast("long").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k_top)
    )


def pq_encode_streaming(
    emb: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    offset: int = OFFSET,
) -> DataFrame:
    """Streaming-safe :func:`pq_encode` — PQ index MAINTENANCE on the
    ingest stream: new embeddings are coded against the frozen codebook
    as they arrive (the train-once / encode-forever deployment, same
    shape as the classifier and LM scoring twins).

    The batch encoder's argmin is a row_number window, which Structured
    Streaming rejects; here it is the equivalent ``min(struct(_d, c))``
    aggregate — lexicographic struct ordering gives the identical
    (distance, centroid-index) tie-break, and the groupBy(id, s)
    aggregate is partial-agg shuffle over m rows per vector.  Batch
    parity is pinned in tests; on a stream run it in complete/update
    mode or watermark an ingest-time column for append.

    The vector dimension is derived from the FROZEN codebook (m · dsub),
    never from the stream — streaming frames reject eager actions."""
    dsub = len(codebook.select("cent").first()["cent"])
    d = (
        quantize_subvectors(
            emb, m, id_col, vec_col, scale, offset, dim=m * dsub
        )
        .join(F.broadcast(codebook), "s")
        .withColumn("_d", F.expr(_sqdist_sql("`q`", "`cent`", dsub)))
    )
    return (
        d.groupBy("id", "s")
        .agg(F.min(F.struct("_d", "c")).alias("_mc"))
        .select("id", "s", F.col("_mc.c").alias("code"))
    )


#: residual shift: quantized coords live in [0, 2·OFFSET), so a
#: difference of two of them lives in (-2·OFFSET, 2·OFFSET) and adding
#: R_OFFSET makes every residual coordinate strictly positive.  L2 is
#: translation-invariant, so the shift changes no distance, no argmin,
#: no ranking — it exists purely to keep the floored-mean Lloyd update
#: cross-engine exact (Spark div truncates, DuckDB // floors; they agree
#: only on non-negative operands).  Pinned by the shift-invariance test.
R_OFFSET = 2 * OFFSET


def _sliced(arr_name: str, m: int, dsub: int):
    """posexplode an array<long> column of length m·dsub into (s, q)
    subvector rows — the residual-frame analog of
    :func:`quantize_subvectors`.  One parsed expression."""
    arr = ",".join(
        f"slice({_bq(arr_name)}, {s * dsub + 1}, {dsub})" for s in range(m)
    )
    return F.expr(f"posexplode(array({arr}))").alias("s", "q")


def _residual_sub(
    vecs: DataFrame,
    cells: DataFrame,
    cell_of: DataFrame,
    m: int,
    dsub: int,
    roff: int,
) -> DataFrame:
    """(id, cell, s, q): shifted residual subvectors of ``vecs`` (an
    (id, qv) full-quantized frame) against each row of ``cell_of``
    ((id, cell) — one row per wanted (vector, cell) pair), coarse
    centroids broadcast."""
    r = (
        vecs.join(cell_of, "id")
        .join(F.broadcast(cells), "cell")
        .select(
            "id",
            "cell",
            F.expr(
                f"zip_with(qv, cvec, (a, b) -> a - b + {int(roff)})"
            ).alias("rv"),
        )
    )
    return r.select("id", "cell", _sliced("rv", m, dsub))


def ivfpq_residual_topk(
    emb: DataFrame,
    queries: DataFrame,
    ncell: int = 8,
    nprobe: int = 3,
    m: int = 8,
    k: int = 16,
    rounds: int = 2,
    k_top: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SCALE,
    offset: int = OFFSET,
    roff: int = R_OFFSET,
) -> DataFrame:
    """IVFADC with ``by_residual=True`` — FAISS's DEFAULT encoding: PQ is
    trained on, and codes represent, v − coarse_centroid(v), which
    centers every cell's population around the origin and cuts
    quantization error vs the shared-codebook ``by_residual=False``
    variant (:func:`ivfpq_topk`).

    The cross-engine-exactness obstacle (residuals go negative, floored
    means diverge between engines) is removed by shifting residuals by
    the constant ``R_OFFSET``: L2 is translation-invariant so nothing
    about the search changes, and every Lloyd operand is non-negative
    again — which is what lets even the residual variant carry a
    full-lineage oracle.

    Search differs from the non-residual form in ONE place: the LUT is
    per (query, probed cell) — the query's residual differs per cell —
    so it has nq·nprobe·m·k rows (still broadcast), and candidates join
    on (query, cell, s, code).  Everything else keeps ivfpq_topk's
    shape: coarse table and codebook broadcast, one partial-agg exchange
    for the (query, neighbor) sums, corpus vectors read once to encode.
    """
    from pyspark.sql import Window

    d = len(emb.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"pq: dim {d} not divisible by m={m}")
    dsub = d // m

    cells = coarse_cells_from_seeds(emb, ncell, id_col, vec_col, scale,
                                    offset, d)
    full = quantize_subvectors(
        emb, 1, id_col, vec_col, scale, offset, d
    ).select(
        "id", F.col("q").alias("qv")
    ).localCheckpoint(eager=False)

    assign = (
        _cell_rank(emb, cells, id_col, vec_col, scale, offset, d)
        .filter(F.col("crn") == 1)
        .select("id", "cell")
        .localCheckpoint(eager=False)
    )
    rsub = _residual_sub(full, cells, assign, m, dsub, roff)
    codebook = train_codebook_from_sub(
        rsub.select("id", "s", "q"), k, rounds, dsub=dsub
    )
    cb_cents = _collect_codebook(codebook)
    if cb_cents is not None:  # literal narrow-map encode, no join
        codes = rsub.select(
            "id",
            "s",
            _assign_code_lit("q", "s", cb_cents, dsub).alias("code"),
        )
    else:
        codes = _assign(rsub.select("id", "s", "q"), codebook, dsub).select(
            "id", "s", "code"
        )

    qfull = quantize_subvectors(
        queries, 1, id_col, vec_col, scale, offset, d
    ).select("id", F.col("q").alias("qv"))
    probes = (
        _cell_rank(queries, cells, id_col, vec_col, scale, offset, d)
        .filter(F.col("crn") <= nprobe)
        .select("id", "cell")
    )
    qres = _residual_sub(qfull, cells, probes, m, dsub, roff)
    lut = (
        qres.withColumnRenamed("id", "query_id")
        .join(codebook, "s")
        .select(
            "query_id",
            "cell",
            "s",
            F.col("c").alias("code"),
            F.expr(_sqdist_sql("`q`", "`cent`", dsub)).alias("ld"),
        )
    )

    cand = (
        probes.withColumnRenamed("id", "query_id")
        .join(assign.select(F.col("id").alias("neighbor_id"), "cell"),
              "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cell")
    )
    scores = (
        cand.join(
            codes.withColumnRenamed("id", "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(lut), ["query_id", "cell", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("ld").cast("long").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k_top)
    )
