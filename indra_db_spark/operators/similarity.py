"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — exact, one broadcast join of the query
set against the corpus (no shuffle of the big side), TakeOrderedAndProject
per query via a window.

Scale path: sign-random-projection (SRP) bucketing — a deterministic LSH for
cosine distance.  Docs are hashed to 2^planes buckets; queries probe only
their own bucket, turning the O(Q×N) scan into O(Q×N/2^planes) with a
recall/latency trade controlled by ``planes`` (and multi-probe on nearby
buckets if recall matters).  An IVF variant would replace the hash with
k-means centroids; SRP keeps everything deterministic and oracle-checkable.

All arithmetic is double-accumulated in document order so results are
reproducible across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a, b) -> Column:
    """Σ a[i]·b[i], accumulated in double, element order."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _pair_sim(va, vb, na, nb, sim_decimals: int | None) -> Column:
    """cosine from PREcomputed norms — same arithmetic as :func:`cosine`
    (dot / (norm·norm), so rounded values are identical), but each side's
    norm is evaluated once per ROW instead of once per PAIR: in an
    N-pairs-per-vector join that drops the array-aggregate count per pair
    from three to one (~3× on the pair stage)."""
    s = dot(va, vb) / (na * nb)
    return F.round(s, sim_decimals) if sim_decimals is not None else s


def _rank_topk(scored, k: int):
    """Shared ranking tail: per-query row_number over (sim desc, neighbor id)
    and keep the first k — ONE place for the tie-break/rounding contract."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim")
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int | None = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim), k rows per query.

    ``queries`` (small) is broadcast against ``emb`` (huge): the corpus never
    shuffles; ranking is a per-query window with id tie-break.  Similarity is
    rounded to ``sim_decimals`` *before* ranking so the top-k frontier is
    stable under float noise (ties then break on neighbor id).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("nq"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("nc"),
    )
    sim = _pair_sim(
        F.col("qvec"), F.col("cvec"), F.col("nq"), F.col("nc"), sim_decimals
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", sim)
    )
    return _rank_topk(scored, k)


# NOTE: the unconditionally-quadratic exact all-pairs baseline
# (cosine_neardup_pairs) moved to indra_db_spark/testing.py in round 8
# (r7 verdict #5): it is ground truth for recall-floor tests only, and the
# library must expose no O(n²) path a user could reach.  The production
# near-dup operators are cosine_neardup_cells (exact, cell-pruned) and
# srp_neardup_pairs (approximate, bucketed).


def _arrow_pair_prefilter(
    pairs: DataFrame,
    threshold: float,
    sim_decimals: int | None,
    dim: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    va: str = "va",
    vb: str = "vb",
) -> DataFrame:
    """Vectorized RAW-cosine candidate prefilter → the (id_a, id_b) pairs
    that could possibly pass ``round(sim, sim_decimals) >= threshold``.

    The exact pair verify is interpreted JVM expression work (~30 µs per
    64-dim pair: zip_with+aggregate is a CodegenFallback), and on
    structure-less data the cell prune admits nearly all pairs, so the
    verify stage dominates the near-dup operators (measured 150-500
    core-seconds per bench run).  This stage computes the SAME
    dot/(na·nb) formula per candidate batch in numpy float64 (one fused
    matrix pass per Arrow batch — guide §4.2) and keeps only pairs with
    ``raw_sim >= threshold - margin``; the few survivors (output-bound)
    then re-enter the UNCHANGED JVM expression, whose rounded value and
    filter decide membership and produce the output sim.

    Soundness (no false negatives, which is all that correctness needs —
    false positives are re-filtered exactly): for unit-scaled operands
    |numpy_sim − jvm_sim| ≤ 2·d·ulp ≤ 3e-14 at d=64, because by
    Cauchy-Schwarz Σ|aᵢbᵢ| ≤ ‖a‖‖b‖ bounds the absolute summation error
    of ANY accumulation order at d·ulp regardless of cancellation; the
    rounding step can promote a sim at most 0.5·10^-decimals below the
    threshold.  margin = 0.5·10^-decimals + 1e-6 dwarfs both.  NaN sims
    (zero-norm vectors) fail ``>=`` in BOTH engines and drop on both
    paths."""
    margin = (0.5 * 10.0 ** (-sim_decimals) if sim_decimals else 0.0) + 1e-6
    gate = threshold - margin
    fields = {f.name: f.dataType.simpleString() for f in pairs.schema.fields}
    out_schema = f"{id_a} {fields[id_a]}, {id_b} {fields[id_b]}"

    def _flt(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ia = rb.schema.get_field_index(va)
            ib = rb.schema.get_field_index(vb)
            A = (
                rb.column(ia)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, dim)
            )
            B = (
                rb.column(ib)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, dim)
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                s = (A * B).sum(axis=1) / (
                    np.sqrt((A * A).sum(axis=1))
                    * np.sqrt((B * B).sum(axis=1))
                )
            keep = s >= gate  # NaN compares False, like the JVM filter
            if not keep.any():
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index(id_a)).filter(
                        pa.array(keep)
                    ),
                    rb.column(rb.schema.get_field_index(id_b)).filter(
                        pa.array(keep)
                    ),
                ],
                names=[id_a, id_b],
            )

    return pairs.select(id_a, id_b, va, vb).mapInArrow(_flt, out_schema)


#: corpus-row ceiling for the driver-collected block-verify shape (the
#: whole corpus is toPandas'd + broadcast, so this bounds driver/executor
#: memory at ~rows × dim × 8 B ≈ 100 MB at 200k × 64); past it the
#: distributed cell-key join runs.  Module-level so tests can force the
#: at-scale path and production can re-tune without a code change.
_DRIVER_VERIFY_MAX_ROWS = 200_000

#: nonempty-cell ceiling for the driver-side IMI cell-pair bound matrix
#: (m² doubles; 4096² = 128 MB transient) — past it the distributed
#: half-pair prune runs.
_DRIVER_VERIFY_MAX_CELLS = 4096

#: a-side rows per block-verify task.  Every mapInPandas task pays a
#: fixed Python-boundary setup cost (Arrow stream, broadcast fetch +
#: unpickle) that dwarfs the task's matmul share on a gated corpus, so
#: the verify stage's partition count derives from the row count the
#: caller already collected — ceil(rows / this) tasks, capped at
#: defaultParallelism.  Scale-adaptive by construction: a gated 200k-row
#: corpus still fans out to every core, a 2k-row corpus stops paying 32
#: task setups to matmul ~60 rows each (measured 19–28 exec-s of wait
#: against 0.5 exec-s of CPU for that stage at sf0.1).
_VERIFY_ROWS_PER_TASK = 512


def _np_block_verify(
    assigned: DataFrame,
    gate: float,
    adm: dict[int, list[int]] | None = None,
) -> DataFrame:
    """Candidate-pair generation + raw-cosine gate as ONE vectorized pass
    (guide §4.2) → broadcast-hinted (id_a, id_b) survivors.

    ``assigned`` must carry ``_id``, ``_v`` (the ORIGINAL vectors the
    exact verify uses) and an int ``_cell``; it must be small enough to
    collect (callers size-gate).  The corpus is shipped across the Python
    boundary ONCE per side — the b side as a Python broadcast of per-cell
    numpy blocks, the a side as Arrow batches — and each admitted cell
    pair is one matmul; the candidate volume only ever exists as matmul
    output, never as per-pair rows (the per-pair Arrow shape measured
    3-4× SLOWER: ~1 KB of vector payload per candidate pair).

    ``adm`` maps an a-cell to its admitted b-cells under the caller's
    cell-pair prune, with the a-cell ordered <= the b-cell so each
    unordered pair is generated once; ``None`` means same-cell pairs
    only.  Same-cell blocks additionally mask ``id_a < id_b``.

    Soundness: the numpy float64 cosine differs from the JVM fold by
    <= 2·d·ulp (Cauchy-Schwarz bounds any accumulation order's absolute
    error), so with ``gate = threshold − (½·10^-decimals + 1e-6)`` no
    pair the exact rounded filter would keep is dropped; false positives
    are re-filtered exactly by the caller.  NaN sims (zero-norm vectors)
    fail ``>=`` in both engines."""
    import numpy as np

    spark = assigned.sparkSession
    id_type = assigned.schema["_id"].dataType.simpleString()
    pdf_all = assigned.select("_id", "_v", "_cell").toPandas()
    blocks = {}
    cells_np = pdf_all["_cell"].to_numpy()
    ids_np = pdf_all["_id"].to_numpy()
    V_all = np.array(list(pdf_all["_v"]), dtype=np.float64)
    for c in np.unique(cells_np):
        sel = np.nonzero(cells_np == c)[0]
        B = V_all[sel]
        bn = np.linalg.norm(B, axis=1)
        blocks[int(c)] = (ids_np[sel], B, bn)
    if adm is None:
        adm = {c: [c] for c in blocks}
    bc = spark.sparkContext.broadcast(blocks)

    def _verify_np(batches):
        import numpy as _np
        import pandas as _pd

        data = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cl = pdf["_cell"].to_numpy()
            ids = pdf["_id"].to_numpy()
            V = _np.array(list(pdf["_v"]), dtype=_np.float64)
            out_a, out_b = [], []
            with _np.errstate(divide="ignore", invalid="ignore"):
                for c in _np.unique(cl):
                    ai = _np.nonzero(cl == c)[0]
                    A = V[ai]
                    aids = ids[ai]
                    an = _np.linalg.norm(A, axis=1)
                    for j in adm.get(int(c), ()):
                        if j not in data:
                            continue
                        bids, B, bn = data[j]
                        S = (A @ B.T) / (an[:, None] * bn[None, :])
                        mask = S >= gate  # NaN → False, like the JVM
                        if j == int(c):
                            mask &= aids[:, None] < bids[None, :]
                        ia, ib = _np.nonzero(mask)
                        if len(ia):
                            out_a.append(aids[ia])
                            out_b.append(bids[ib])
            if out_a:
                yield _pd.DataFrame(
                    {
                        "id_a": _np.concatenate(out_a),
                        "id_b": _np.concatenate(out_b),
                    }
                )

    n_parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            -(-len(pdf_all) // _VERIFY_ROWS_PER_TASK),
        ),
    )
    return F.broadcast(
        assigned.select("_id", "_v", "_cell")
        .repartition(n_parts)
        .mapInPandas(_verify_np, f"id_a {id_type}, id_b {id_type}")
    )


def _sim_gate(threshold: float, sim_decimals: int | None) -> float:
    """The raw-cosine admission gate matching ``round(sim, d) >=
    threshold``: ½ulp of the rounding plus 1e-6 float slack below the
    threshold (see :func:`_np_block_verify`'s soundness note)."""
    return threshold - (
        (0.5 * 10.0 ** (-sim_decimals) if sim_decimals else 0.0) + 1e-6
    )


def cosine_neardup_cells(
    emb: DataFrame,
    threshold: float = 0.9,
    centers: list[list[float]] | None = None,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int | None = 6,
    dist_decimals: int | None = 6,
) -> DataFrame:
    """EXACT cosine-threshold near-dup pairs with triangle-inequality cell
    pruning — same output as the brute-force all-pairs join (the
    testing-only ``testing.cosine_neardup_pairs`` oracle), without the
    unconditional all-pairs join.

    On the unit sphere, ``cos(a,b) >= t  <=>  ||â−b̂|| <= sqrt(2−2t)``, so
    after assigning every NORMALIZED vector to its nearest of ``nlist``
    centroids and measuring each cell's radius ``r_c = max ||â − c||``,
    a cell pair (i, j) can contain a qualifying pair only if
    ``||c_i − c_j|| − r_i − r_j <= sqrt(2−2t)`` (triangle inequality — the
    Elkan/FAISS-style bound, applied at cell granularity).  Only those
    cell pairs are joined; the survivor filter re-computes the SAME
    rounded cosine expression as the brute force on the ORIGINAL vectors,
    so the prune can only drop pairs that cannot pass and the result set
    is bit-identical (the bound carries a small slack margin so float
    rounding at the threshold boundary can never exclude a qualifying
    pair).

    Scale shape: assignment is a narrow map over literal centers; radii
    are one tiny aggregate; candidate generation is a cell-key join whose
    volume tracks OUTPUT density plus pruning slack, not corpus².  The
    worst case (every vector inside one ``sqrt(2−2t)`` ball) degrades to
    all-pairs — but then the output itself is quadratic, so the cost is
    output-bound, which is the honest lower bound for any EXACT
    similarity join.  nlist grows with the corpus (â la IVF) to keep
    per-cell volume constant.
    """
    import math

    import numpy as np

    spark = emb.sparkSession
    if centers is None:
        nrm_g = norm(F.col(vec_col))
        unit_g = F.transform(
            F.col(vec_col),
            lambda x: F.when(nrm_g != 0, x.cast("double") / nrm_g).otherwise(
                F.lit(0.0)
            ),
        )
        centers = ivf_train_centroids(
            emb.select(unit_g.alias(vec_col)),
            nlist=nlist,
            vec_col=vec_col,
        )
    # assignment is an Arrow-batched numpy pass (the IMI shape), not a
    # literal-center expression tree: nlist·dim literals cost seconds of
    # py4j driver round-trips + Catalyst analysis PER CALL, and the
    # output pair set never depends on assignment quality — ANY
    # assignment yields a valid triangle bound because the radii are
    # measured from the assignment actually used.  ``_dist`` uses the
    # direct-difference form (no expansion cancellation), so each radius
    # upper-bounds its members' true center distance to within one ulp —
    # absorbed by the bound's 1e-9 slack and the sim-margin inflation.
    C = np.array(centers, dtype=np.float64)
    id_type = emb.schema[id_col].dataType.simpleString()
    vec_type = emb.schema[vec_col].dataType.simpleString()
    out_schema = f"_id {id_type}, _v {vec_type}, _cell int, _dist double"

    def _assign_np(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            V = _np.array(list(pdf[vec_col]), dtype=_np.float64)
            if V.size == 0:
                continue
            nr = _np.linalg.norm(V, axis=1, keepdims=True)
            nr[nr == 0] = 1.0
            U = V / nr
            d2 = (
                (U * U).sum(axis=1, keepdims=True)
                - 2.0 * U @ C.T
                + (C * C).sum(axis=1)[None, :]
            )
            cell = d2.argmin(axis=1)
            diff = U - C[cell]
            dist = _np.sqrt((diff * diff).sum(axis=1))
            yield _pd.DataFrame(
                {
                    "_id": pdf[id_col],
                    "_v": pdf[vec_col],
                    "_cell": cell.astype("int32"),
                    "_dist": dist,
                }
            )

    from indra_db_spark.operators.dedup import _materialize

    assigned = _materialize(
        emb.select(id_col, vec_col)
        .mapInPandas(_assign_np, out_schema)
        # norm Spark-side with the SAME element-order accumulation as the
        # brute force, so the re-verified sims are bit-identical
        .withColumn("_n", norm(F.col("_v")))
    )

    cell_stats = assigned.groupBy("_cell").agg(
        F.max("_dist").alias("r"), F.count(F.lit(1)).alias("n")
    ).collect()
    radii = {r["_cell"]: r["r"] for r in cell_stats}
    n_rows = sum(r["n"] for r in cell_stats)
    # slack margin: the final filter works on sim rounded to sim_decimals,
    # so a pair at threshold − ½ulp must survive the prune
    margin = 10.0 ** (-(9 if sim_decimals is None else sim_decimals)) * 5
    eps = math.sqrt(max(0.0, 2.0 - 2.0 * (threshold - margin)))
    cand = []
    cells = sorted(radii)
    for ai, i in enumerate(cells):
        for j in cells[ai:]:
            d = math.sqrt(
                sum((x - y) ** 2 for x, y in zip(centers[i], centers[j]))
            )
            if d <= eps + radii[i] + radii[j] + 1e-9:
                cand.append((i, j))
    # candidate generation → vectorized raw prefilter → exact JVM
    # re-verify.  The prefilter only DROPS pairs provably below the
    # rounded threshold (see _arrow_pair_prefilter's soundness note);
    # survivors are output-bound and re-enter the UNCHANGED JVM sim
    # expression, which decides membership and produces the emitted sim.
    dim = len(centers[0])
    gate = _sim_gate(threshold, sim_decimals)
    if n_rows <= _DRIVER_VERIFY_MAX_ROWS:
        # small-corpus shape: the b side fits the broadcast budget —
        # per-cell numpy blocks, one matmul per admitted cell pair
        # (see _np_block_verify)
        adm: dict[int, list[int]] = {}
        for i, j in cand:
            adm.setdefault(i, []).append(j)
        surv = _np_block_verify(assigned, gate, adm)
    else:
        # at-scale shape: cell-keyed equi-join generates the candidates
        # (volume tracks output density plus pruning slack), the Arrow
        # prefilter collapses them to survivors before any pair pays the
        # interpreted JVM sim
        from indra_db_spark.session import local_artifact_df

        pairs_df = local_artifact_df(spark, cand, "cell_a INT, cell_b INT")
        a = assigned.select(
            F.col("_id").alias("id_a"),
            F.col("_v").alias("va"),
            F.col("_cell").alias("cell_a"),
        )
        b = assigned.select(
            F.col("_id").alias("id_b"),
            F.col("_v").alias("vb"),
            F.col("_cell").alias("cell_b"),
        )
        cand_pairs = (
            a.join(F.broadcast(pairs_df), "cell_a")
            .join(b, "cell_b")
            .filter(
                (F.col("cell_a") != F.col("cell_b"))
                | (F.col("id_a") < F.col("id_b"))
            )
            .select("id_a", "va", "id_b", "vb")
        )
        surv = F.broadcast(
            _arrow_pair_prefilter(cand_pairs, threshold, sim_decimals, dim)
        )
    a2 = assigned.select(
        F.col("_id").alias("id_a"),
        F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    b2 = assigned.select(
        F.col("_id").alias("id_b"),
        F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    sim = _pair_sim(
        F.col("va"), F.col("vb"), F.col("na"), F.col("nb"), sim_decimals
    )
    return (
        F.broadcast(surv.join(a2, "id_a"))
        .join(b2, "id_b")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "sim",
        )
    )


def _train_half_codebook(sample, lo: int, hi: int, k: int,
                         rounds: int = 8):
    """Lloyd iterations over one coordinate half of a bounded driver-side
    sample (numpy, float64), seeded kmeans++-style (greedy farthest-point
    with the standard D² rule made deterministic: each next seed is the
    sample point at maximal distance to the chosen set).  Farthest-point
    seeding matters here more than in ordinary k-means: a missed mode
    inflates that coarse group's max radius, and the coarse prune bound
    is only as tight as the worst cell in the group.  Exactness of the
    IMI prune never depends on codebook quality (any centers give a
    valid triangle bound); quality only tightens the radii."""
    import numpy as np

    H = sample[:, lo:hi]
    sq = (H * H).sum(axis=1)
    seeds = [0]
    d2 = sq - 2.0 * H @ H[0] + sq[0]
    for _ in range(1, k):
        nxt = int(d2.argmax())
        seeds.append(nxt)
        d2 = np.minimum(d2, sq - 2.0 * H @ H[nxt] + sq[nxt])
    C = H[seeds].copy()
    for _ in range(rounds):
        # ||h||^2 - 2 h.C^T + ||c||^2, argmin over centers
        d = (
            (H * H).sum(axis=1, keepdims=True)
            - 2.0 * H @ C.T
            + (C * C).sum(axis=1)[None, :]
        )
        a = d.argmin(axis=1)
        for j in range(k):
            m = a == j
            if m.any():
                C[j] = H[m].mean(axis=0)
    return C


def cosine_neardup_imi(
    emb: DataFrame,
    threshold: float = 0.9,
    k_half: int | None = None,
    target_cell_rows: int = 64,
    max_k_half: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int | None = 6,
) -> DataFrame:
    """EXACT cosine-threshold near-dup pairs with inverted-multi-index
    (IMI, Babenko & Lempitsky 2012) cell pruning — the growing-cell-count
    scale path that :func:`cosine_neardup_cells` cannot reach.

    The flat cell prune keys every vector to one of ``nlist`` literal
    centers; keeping per-cell volume bounded as the corpus grows needs
    ``nlist ∝ N``, but flat assignment costs ``N × nlist`` distance
    evaluations — quadratic exactly when it matters.  IMI splits the
    (normalized) vector into two coordinate halves with independent
    ``k``-center codebooks: the cell is the PAIR ``(argmin₁, argmin₂)``,
    so ``k²`` cells cost only ``2k`` distance evaluations per row
    (``k ≈ sqrt(N / target_cell_rows)`` keeps per-cell volume constant at
    assignment cost ``N^1.5 / sqrt(target)`` — and the per-row work is two
    Arrow-batched numpy matmuls, not a per-center expression tree).

    Exactness is the same triangle-inequality argument as the flat prune,
    with one extra identity: the distance between concatenated cell
    centers decomposes as ``d((i,j),(i',j'))² = d₁(i,i')² + d₂(j,j')²``,
    so the cell-pair bound needs only the two tiny per-half distance
    matrices — never a ``k² × k²`` table.  Survivor generation is
    hierarchical AND distributed: each half's center pairs are pruned
    driver-side with per-group max radii (``k²`` bound checks, numpy),
    then the two scalar survivor lists join the nonempty-cell frame —
    each half's list pre-prunes the next join's fan-out, and the exact
    cell-pair bound is a scalar filter.  Every pair the prune
    keeps is re-verified with the SAME rounded cosine as the brute force
    on the ORIGINAL vectors — output is bit-identical to the
    ``testing.exact_neardup_baseline`` oracle (bound slack covers float
    rounding at the threshold boundary, as in the flat prune).

    Scale shape at 100 TB: assignment is a narrow Arrow map; cell stats
    are one partial agg over ≤ nonempty-cell rows; the only driver-side
    artifacts are the two codebooks and the half-1 survivor list (O(k²)
    worst case, structure-pruned in practice); candidate volume tracks
    output density plus pruning slack.  On data with NO near-dup
    structure (isotropic high-dim), concentration of measure makes every
    bound vacuous and ANY exact method degrades to all-pairs — that
    regime is output-bound by definition, not an indexing failure (see
    SCALING.md §6g for the measured evidence).
    """
    import math

    import numpy as np

    spark = emb.sparkSession
    first = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    id_type = emb.schema[id_col].dataType.simpleString()
    vec_type = emb.schema[vec_col].dataType.simpleString()
    empty_schema = (
        f"id_a {id_type}, id_b {id_type}, sim double"
    )
    if first is None:
        from indra_db_spark.session import local_artifact_df

        return local_artifact_df(spark, [], empty_schema)
    dim = int(first["d"])
    half = dim // 2
    n_rows = emb.count()
    if k_half is None:
        k_half = min(
            max_k_half,
            max(2, int(math.ceil(math.sqrt(max(n_rows, 1) / target_cell_rows)))),
        )
    # hash-spread bounded sample for codebook training (same spreader as
    # the flat prune's seed selection: plain first-N would sample one
    # corner of the corpus and inflate every radius)
    n_sample = min(100_000, max(50 * k_half, 2048))
    srows = (
        emb.orderBy(
            ((F.col(id_col) % 1_000_000_007) * 2654435761) % 1_000_000_007
        )
        .limit(n_sample)
        .select(F.col(vec_col).alias("v"))
        .collect()
    )
    S = np.array([r["v"] for r in srows], dtype=np.float64)
    nrm = np.linalg.norm(S, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    S /= nrm
    k_half = min(k_half, len(S))
    C1 = _train_half_codebook(S, 0, half, k_half)
    C2 = _train_half_codebook(S, half, dim, k_half)

    out_schema = (
        f"_id {id_type}, _v {vec_type}, _c1 int, _c2 int, _dsq double"
    )

    def _assign(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            V = _np.array(list(pdf[vec_col]), dtype=_np.float64)
            if V.size == 0:
                continue
            nr = _np.linalg.norm(V, axis=1, keepdims=True)
            nr[nr == 0] = 1.0
            U = V / nr
            d1 = (
                (U[:, :half] ** 2).sum(axis=1, keepdims=True)
                - 2.0 * U[:, :half] @ C1.T
                + (C1 * C1).sum(axis=1)[None, :]
            )
            d2 = (
                (U[:, half:] ** 2).sum(axis=1, keepdims=True)
                - 2.0 * U[:, half:] @ C2.T
                + (C2 * C2).sum(axis=1)[None, :]
            )
            a1, a2 = d1.argmin(axis=1), d2.argmin(axis=1)
            rows = _np.arange(len(U))
            dsq = _np.clip(d1[rows, a1], 0.0, None) + _np.clip(
                d2[rows, a2], 0.0, None
            )
            yield _pd.DataFrame(
                {
                    "_id": pdf[id_col],
                    "_v": pdf[vec_col],
                    "_c1": a1.astype("int32"),
                    "_c2": a2.astype("int32"),
                    "_dsq": dsq,
                }
            )

    from indra_db_spark.operators.dedup import _materialize

    assigned = _materialize(
        emb.select(id_col, vec_col)
        .mapInPandas(_assign, out_schema)
        # norm Spark-side with the SAME element-order accumulation as the
        # brute force, so rounded cosines are bit-identical to the oracle
        .withColumn("_n", norm(F.col("_v")))
    )
    cells = assigned.groupBy("_c1", "_c2").agg(
        F.sqrt(F.max("_dsq")).alias("r")
    )

    margin = 10.0 ** (-(9 if sim_decimals is None else sim_decimals)) * 5
    eps = math.sqrt(max(0.0, 2.0 - 2.0 * (threshold - margin)))
    slack = 1e-9

    # small-corpus shape: the nonempty-cell list fits the driver, so the
    # cell-pair prune is ONE numpy bound matrix (identical arithmetic to
    # the distributed bound: same per-half squared-distance matrices,
    # same eps/radii/slack, same lexicographic dedup) and the pair
    # verify is the block-matmul pass of _np_block_verify — the
    # interpreted JVM cosine then runs ONLY on gate survivors, which the
    # unchanged expression re-filters exactly (bit-identical output).
    # Measured: the JVM pair verify was 121 exec-core-seconds per bench
    # run on the sf0.1 fixture (~1-2M candidate pairs × ~100 µs).
    crows = cells.collect() if n_rows <= _DRIVER_VERIFY_MAX_ROWS else None
    if crows is not None and len(crows) <= _DRIVER_VERIFY_MAX_CELLS:
        c1v = np.array([r["_c1"] for r in crows], dtype=np.int64)
        c2v = np.array([r["_c2"] for r in crows], dtype=np.int64)
        rv = np.array([r["r"] for r in crows], dtype=np.float64)

        def _sqmat(C):
            s = (C * C).sum(axis=1)
            return np.clip(
                s[:, None] - 2.0 * C @ C.T + s[None, :], 0.0, None
            )

        sq1, sq2 = _sqmat(C1), _sqmat(C2)
        dmat = np.sqrt(sq1[np.ix_(c1v, c1v)] + sq2[np.ix_(c2v, c2v)])
        keep = dmat <= eps + rv[:, None] + rv[None, :] + slack
        keep &= (c1v[:, None] < c1v[None, :]) | (
            (c1v[:, None] == c1v[None, :])
            & (c2v[:, None] <= c2v[None, :])
        )
        cidx = c1v * k_half + c2v
        adm: dict[int, list[int]] = {}
        for i, j in zip(*np.nonzero(keep)):
            adm.setdefault(int(cidx[i]), []).append(int(cidx[j]))
        surv_ids = _np_block_verify(
            assigned.select(
                "_id",
                "_v",
                (F.col("_c1") * k_half + F.col("_c2"))
                .cast("int")
                .alias("_cell"),
            ),
            _sim_gate(threshold, sim_decimals),
            adm,
        )
        a2 = assigned.select(
            F.col("_id").alias("id_a"), F.col("_v").alias("va"),
            F.col("_n").alias("na"),
        )
        b2 = assigned.select(
            F.col("_id").alias("id_b"), F.col("_v").alias("vb"),
            F.col("_n").alias("nb"),
        )
        sim = _pair_sim(
            F.col("va"), F.col("vb"), F.col("na"), F.col("nb"),
            sim_decimals,
        )
        return (
            F.broadcast(surv_ids.join(a2, "id_a"))
            .join(b2, "id_b")
            .withColumn("sim", sim)
            .filter(F.col("sim") >= threshold)
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                "sim",
            )
        )

    # per-half coarse prunes: both halves share the same driver-side shape
    # (a k×k codebook distance matrix pruned by per-group max radii), so
    # the cell-pair bound never touches an array expression — the middle
    # join carries only scalar d1sq/d2sq columns and each half's survivor
    # list pre-prunes the next join's fan-out
    def _half_pairs(group_col: str, C):
        rr = cells.groupBy(group_col).agg(F.max("r").alias("R")).collect()
        R = np.zeros(k_half)
        for r in rr:
            R[r[group_col]] = r["R"]
        D = np.sqrt(
            np.clip(
                (C * C).sum(axis=1)[:, None]
                - 2.0 * C @ C.T
                + (C * C).sum(axis=1)[None, :],
                0.0,
                None,
            )
        )
        keep = D <= eps + R[:, None] + R[None, :] + slack
        ii, jj = np.nonzero(keep)
        return ii, jj, (D[ii, jj] ** 2)

    def _pairs_df(cols, half):
        import pandas as pd

        ii, jj, dsq = half
        # Arrow path, not a Python tuple list: the unpruned worst case is
        # k² rows and row-by-row Py4J serialization would dominate
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    cols[0]: ii.astype("int32"),
                    cols[1]: jj.astype("int32"),
                    cols[2]: dsq,
                }
            ),
            f"{cols[0]} INT, {cols[1]} INT, {cols[2]} DOUBLE",
        )

    h1 = _half_pairs("_c1", C1)
    h2 = _half_pairs("_c2", C2)
    d1p = _pairs_df(("c1a", "c1b", "d1sq"), h1)
    d2p = _pairs_df(("c2a", "c2b", "d2sq"), h2)
    # only hint the broadcast when the survivor list is provably small —
    # an unpruned k² list forced past AQE's threshold risks executor OOM
    if len(h1[0]) <= 500_000:
        d1p = F.broadcast(d1p)
    if len(h2[0]) <= 500_000:
        d2p = F.broadcast(d2p)

    ca = cells.select(
        F.col("_c1").alias("c1a"), F.col("_c2").alias("c2a"),
        F.col("r").alias("ra"),
    )
    cb = cells.select(
        F.col("_c1").alias("c1b"), F.col("_c2").alias("c2b"),
        F.col("r").alias("rb"),
    )
    surv = (
        ca.join(d1p, "c1a")
        .join(d2p, "c2a")
        .join(cb, ["c1b", "c2b"])
        .filter(
            # one unordered cell pair once (lexicographic on (c1, c2))
            (F.col("c1a") < F.col("c1b"))
            | (
                (F.col("c1a") == F.col("c1b"))
                & (F.col("c2a") <= F.col("c2b"))
            )
        )
        .filter(
            F.sqrt(F.col("d1sq") + F.col("d2sq"))
            <= F.lit(eps) + F.col("ra") + F.col("rb") + F.lit(slack)
        )
        .select("c1a", "c2a", "c1b", "c2b")
    )

    a = assigned.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("va"),
        F.col("_n").alias("na"),
        F.col("_c1").alias("c1a"), F.col("_c2").alias("c2a"),
    )
    b = assigned.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
        F.col("_c1").alias("c1b"), F.col("_c2").alias("c2b"),
    )
    # small-corpus parallelism spreader, same gate as the flat prune:
    # the verify join's INPUT bytes are tiny, so AQE coalesces it onto
    # ~1 task while its OUTPUT is the pair volume — spread side a and
    # broadcast side b so every core verifies a slice (measured 3× on
    # the sf0.1 bench fixture)
    if n_rows <= 200_000:  # parallelism spreader, not the path gate
        a = a.repartition(spark.sparkContext.defaultParallelism)
        b = F.broadcast(b)
    sim = _pair_sim(
        F.col("va"), F.col("vb"), F.col("na"), F.col("nb"), sim_decimals
    )
    # the survivor list scales with nonempty cells — hint the broadcast
    # only while the cell space is provably small, else let AQE decide
    if k_half * k_half <= 500_000:
        surv = F.broadcast(surv)
    return (
        a.join(surv, ["c1a", "c2a"])
        .join(b, ["c1b", "c2b"])
        .filter(
            ((F.col("c1a") != F.col("c1b")) | (F.col("c2a") != F.col("c2b")))
            | (F.col("id_a") < F.col("id_b"))
        )
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "sim",
        )
    )


def srp_bucket(vec_col, planes: int = 8) -> Column:
    """Sign-random-projection bucket id ∈ [0, 2^planes) from the signs of the
    first ``planes`` coordinates (axis-aligned hyperplanes — deterministic,
    no RNG; swap in fixed random hyperplanes for better isotropy)."""
    bucket = F.lit(0)
    for j in range(planes):
        bit = F.when(F.element_at(vec_col, j + 1) > 0, F.lit(2**j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def srp_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int | None = 6,
) -> DataFrame:
    """Near-dup pairs restricted to one SRP bucket — the at-scale candidate
    generator for exact near-dup: the quadratic self-join runs
    only inside each of the 2^planes buckets, cutting pair volume ~2^planes
    for roughly isotropic data.  Misses pairs whose signs differ on any
    projection plane (recall < 1) — the standard LSH trade, tuned via
    ``planes``; every pair it does emit carries the exact cosine."""
    hashed = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("n"),
        srp_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    a = hashed.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "bucket",
    )
    b = hashed.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), "bucket",
    )
    sim = _pair_sim(
        F.col("va"), F.col("vb"), F.col("na"), F.col("nb"), sim_decimals
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def srp_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int | None = 6,
    hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: brute force restricted to the query's SRP bucket
    and (multi-probe) the buckets within Hamming distance ``hamming``.

    The corpus is hashed once (narrow map); the join key is (bucket), so
    the scan per query shrinks by ~2^planes / probes.  Exactly the IVF
    pattern with SRP cells instead of k-means cells.

    ``hamming`` is the multi-probe knob (Lv et al. 2007, multi-probe
    LSH): a true neighbor at angle θ lands in the SAME bucket only with
    probability (1 − θ/π)^planes — at planes=6 and the θ≈60° typical of
    a nearest neighbor that is ~9%, which is why single-bucket probing
    measured recall@5 of 0.06 on the fixture corpus.  Probing the
    ``planes`` one-bit-flip buckets too (hamming=1 → 7 probes) raises the
    fixture recall to ≥0.3 at 7/64ths of the scan; hamming=2 (22 probes)
    trades more scan for more recall.  The probe count multiplies the
    CANDIDATE volume, not the corpus passes — the corpus is still hashed
    and shuffled once.
    """
    from itertools import combinations

    from pyspark.sql import Window

    if hamming not in (0, 1, 2):
        raise ValueError("srp_topk: hamming must be 0, 1 or 2")
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("nc"),
        srp_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("nq"),
        srp_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    masks = [0]
    if hamming >= 1:
        masks += [2**j for j in range(planes)]
    if hamming >= 2:
        masks += [2**i | 2**j for i, j in combinations(range(planes), 2)]
    q = q.withColumn(
        "bucket",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ),
    )
    sim = _pair_sim(
        F.col("qvec"), F.col("cvec"), F.col("nq"), F.col("nc"), sim_decimals
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", sim)
    )
    return _rank_topk(scored, k)


def _double_lit_sql(x: float) -> str:
    """A Python float as SQL text with the exact same double bits as
    ``F.lit(x)``: ``repr`` round-trips every finite double, and the cast
    parses the non-finite spellings Java accepts.

    Coerce first: numpy scalars repr as ``np.float64(0.1)`` under
    numpy>=2.0, which the CAST would silently fold to NULL in non-ANSI
    mode (every distance NULL → all cells tie); ``float()`` raises on
    non-numerics instead of emitting garbage SQL (r13 ADVICE #1)."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"CAST('{x!r}' AS DOUBLE)"


def _ranked_cells(vec_name: str, centers: list[list[float]], n: int,
                  dist_decimals: int | None = 6) -> Column:
    """Ids of the ``n`` nearest centroids to the array column ``vec_name``
    (squared Euclidean, rounded to ``dist_decimals`` before ranking, ties
    broken by cell id) — a pure column expression over literal centers, so
    it runs JVM-side per row with no UDF and is reproducible across
    engines.

    Built as ONE parsed SQL string: the previous Column form paid one
    py4j round-trip per center coordinate (``F.lit`` × ncell·dim — ~0.5 s
    of DRIVER time per call at ncell=8, dim=64, measured via cProfile on
    emb_semantic_dedup) plus per-center lambda builders; identical
    doubles, identical fold order, identical (distance, cell) tie-break."""
    lit = (
        "array("
        + ",".join(
            "array(" + ",".join(_double_lit_sql(x) for x in c) + ")"
            for c in centers
        )
        + ")"
    )
    fold = (
        f"aggregate(zip_with(`{vec_name}`, cent, "
        f"(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    dists = f"transform({lit}, cent -> {fold})"
    if dist_decimals is not None:
        dists = f"transform({dists}, d -> round(d, {int(dist_decimals)}))"
    return F.expr(
        f"slice(transform(array_sort(zip_with({dists}, "
        f"sequence(0, {len(centers) - 1}), "
        f"(d, i) -> named_struct('d', d, 'i', i))), s -> s.i), 1, {int(n)})"
    )


def ivf_train_centroids(
    emb: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> list[list[float]]:
    """Train the coarse quantizer ONCE (MLlib k-means, seeded, on a bounded
    slice — k-means over the full corpus would dwarf the nprobe/nlist scan
    savings the index exists to provide).  Returns plain centroid lists:
    a tiny, serializable index artifact to persist and reuse across probe
    calls — retraining per query call is the anti-pattern this split
    removes."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = emb.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    ).limit(max_train_rows)
    model = KMeans(k=nlist, seed=seed, maxIter=20).fit(train)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def ivf_build_index(
    emb: DataFrame,
    centers: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_decimals: int | None = 6,
) -> DataFrame:
    """Assign every corpus vector to its nearest cell ONCE (narrow map over
    literal centers — no shuffle, no UDF).  The result is the inverted
    file: persist it partitioned by cell and probe it many times."""
    return emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.element_at(
            _ranked_cells(vec_col, centers, 1, dist_decimals), 1
        ).alias("cell"),
    )


def ivf_probe(
    corpus: DataFrame,
    centers: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int | None = 6,
    dist_decimals: int | None = 6,
) -> DataFrame:
    """Score each query only against its ``nprobe`` nearest cells of a
    prebuilt inverted file — the classic IVF trade: recall grows with
    nprobe, scan cost is ~nprobe/nlist of the corpus.  Queries (small by
    contract) broadcast; the corpus never reshuffles per probe."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("nq"),
        F.explode(
            _ranked_cells(vec_col, centers, nprobe, dist_decimals)
        ).alias("cell"),
    )
    c = corpus.withColumn("nc", F.col("_nrm") if "_nrm" in corpus.columns
                          else norm(F.col("cvec")))
    sim = _pair_sim(
        F.col("qvec"), F.col("cvec"), F.col("nq"), F.col("nc"), sim_decimals
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", sim)
    )
    return _rank_topk(scored, k)


def semantic_dedup(
    emb: DataFrame,
    centers: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int | None = 6,
    dist_decimals: int | None = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a coarse quantizer, then
    within each cluster drop every vector that has a LOWER-id neighbor
    with cosine >= ``threshold``; returns the keepers as (id, cell).

    The leader rule (keep the smallest id of any near-dup pair) makes the
    output a pure function of the input — deterministic across engines,
    partitionings, and runs, unlike SemDeDup's keep-a-random-member — and
    guarantees no two kept vectors in the same cell are within
    ``threshold`` of each other.  Cross-cell near-dups are missed by
    construction (the standard quantizer trade; raise nlist resolution or
    overlap cells to tighten recall).

    Scale shape: the cell assignment is a narrow map over literal centers
    (no shuffle, no UDF); the only shuffle is the per-cell self-join, and
    nlist grows with the corpus so per-cell pair volume stays bounded —
    the corpus-level all-pairs join never happens.
    """
    from indra_db_spark.operators.dedup import _materialize

    # norms once per VECTOR, not per pair (identical arithmetic, so the
    # rounded sims are unchanged — the pair expression drops from three
    # array-aggregates to one); materialize the assignment, which feeds
    # both join sides and the keeper base — without it each use re-derives
    # the corpus scan + center ranking
    index = _materialize(
        ivf_build_index(
            emb, centers, id_col=id_col, vec_col=vec_col,
            dist_decimals=dist_decimals,
        ).withColumn("_nrm", norm(F.col("cvec")))
    )
    a = index.select(
        F.col("neighbor_id").alias("id_a"),
        F.col("cvec").alias("va"),
        F.col("_nrm").alias("na"),
        "cell",
    )
    b = index.select(
        F.col("neighbor_id").alias("id_b"),
        F.col("cvec").alias("vb"),
        F.col("_nrm").alias("nb"),
        "cell",
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    if sim_decimals is not None:
        sim = F.round(sim, sim_decimals)
    # small-index shape: same-cell pairs through the block-matmul gate
    # (_np_block_verify, adm=None → same-cell only with id_a < id_b);
    # survivors re-enter the UNCHANGED rounded-cosine expression, which
    # alone decides who is a duplicate — output identical, but the
    # interpreted JVM cosine runs on gate survivors instead of every
    # same-cell pair (measured 108 exec-core-seconds per bench run on
    # the sf0.1 fixture).  The CELL ASSIGNMENT stays the JVM
    # literal-center expression: cell is part of the OUTPUT, so it must
    # be bit-identical to the oracle's — only the pair stage vectorizes.
    # A big index keeps the per-cell shuffle join (nlist grows with the
    # corpus; AQE splits any skewed cell).
    small_max = _DRIVER_VERIFY_MAX_ROWS
    if index.limit(small_max + 1).count() <= small_max:
        surv_ids = _np_block_verify(
            index.select(
                F.col("neighbor_id").alias("_id"),
                F.col("cvec").alias("_v"),
                F.col("cell").cast("int").alias("_cell"),
            ),
            _sim_gate(threshold, sim_decimals),
        )
        dups = (
            F.broadcast(surv_ids.join(a.drop("cell"), "id_a"))
            .join(b.drop("cell"), "id_b")
            .withColumn("sim", sim)
            .filter(F.col("sim") >= threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
    else:
        dups = (
            a.join(b, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("sim", sim)
            .filter(F.col("sim") >= threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
    return index.select(
        F.col("neighbor_id").alias(id_col), "cell"
    ).join(dups, id_col, "left_anti")


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sim_decimals: int | None = 6,
    max_train_rows: int = 100_000,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k = train (unless ``centroids`` pins the cells)
    → build → probe, composed.  Pass ``centroids`` for a deterministic,
    engine-portable index (e.g. pinned sample vectors); leave it None for
    the k-means quantizer.  One-shot convenience — for repeated probing,
    call the build/probe pieces and reuse the index."""
    centers = centroids if centroids is not None else ivf_train_centroids(
        emb, nlist=nlist, vec_col=vec_col, seed=seed,
        max_train_rows=max_train_rows,
    )
    corpus = ivf_build_index(emb, centers, id_col=id_col, vec_col=vec_col)
    return ivf_probe(
        corpus, centers, queries, k=k, nprobe=nprobe, id_col=id_col,
        vec_col=vec_col, sim_decimals=sim_decimals,
    )


def mmr_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    pool: int = 10,
    lambda_milli: int = 700,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    1998): per query, greedily select ``k`` of the ``pool`` most relevant
    candidates, each round maximizing
    ``λ·relevance − (1−λ)·max_similarity_to_selected`` →
    (query_id, neighbor_id, rank, rel_micro).

    Everything after the cosine is integer micro-unit arithmetic with
    deterministic (score desc, id) tie-breaks, so the greedy trajectory is
    a pure function of the data — which is what lets an ITERATIVE rerank
    carry a full unrolled SQL oracle (catalog ``emb_mmr_topk``).

    Scale shape: the candidate pool is the only corpus-scale stage (one
    brute-force or ANN pass); the per-query pool (≤ ``pool`` rows) and its
    pairwise sims (≤ pool² rows per query) are bounded by construction,
    and each of the ``k`` selection rounds is a join + window keyed on
    query_id — rerank cost is independent of corpus size, the defining
    property of a rerank stage.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("nq"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("nc"),
    )
    sim = dot(F.col("qvec"), F.col("cvec")) / (F.col("nq") * F.col("nc"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "rel_micro",
            F.round(sim * 1_000_000, 0).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rel_micro"), F.asc("neighbor_id")
    )
    from indra_db_spark.operators.dedup import _materialize

    cand = _materialize(
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= pool)
        .select("query_id", "neighbor_id", "cvec", "nc", "rel_micro")
    )
    a = cand.select(
        "query_id",
        F.col("neighbor_id").alias("id_a"),
        F.col("cvec").alias("va"),
        F.col("nc").alias("na"),
    )
    b = cand.select(
        "query_id",
        F.col("neighbor_id").alias("id_b"),
        F.col("cvec").alias("vb"),
        F.col("nc").alias("nb"),
    )
    psim = (
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn(
            "sim_micro",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
                * 1_000_000,
                0,
            ).cast("long"),
        )
        .select("query_id", "id_a", "id_b", "sim_micro")
    )
    psim = _materialize(psim)
    rel = cand.select("query_id", "neighbor_id", "rel_micro")

    selected = None  # (query_id, neighbor_id, rank, rel_micro)
    remaining = rel
    for r in range(1, k + 1):
        if r == 1:
            score = F.col("rel_micro")
            pick_base = remaining
        else:
            p2 = psim.select(
                F.col("query_id").alias("_pq"),
                "id_a",
                "id_b",
                "sim_micro",
            )
            div = (
                remaining.join(
                    selected.select(
                        "query_id", F.col("neighbor_id").alias("_sel")
                    ),
                    "query_id",
                )
                .join(
                    p2,
                    (F.col("_pq") == F.col("query_id"))
                    & (F.col("id_a") == F.col("neighbor_id"))
                    & (F.col("id_b") == F.col("_sel")),
                )
                .groupBy("query_id", "neighbor_id")
                .agg(F.max("sim_micro").alias("_div"))
            )
            pick_base = remaining.join(
                div, ["query_id", "neighbor_id"], "left"
            ).withColumn("_div", F.coalesce(F.col("_div"), F.lit(0)))
            # NO trailing div: dividing by the constant 1000 is monotone
            # (ranking-invariant) and integer division of NEGATIVE scores
            # is where engines disagree (Spark `div` truncates toward
            # zero, SQL `//` floors) — keep the score in milli·micro units
            score = F.expr(
                f"{lambda_milli} * rel_micro - "
                f"{1000 - lambda_milli} * _div"
            )
        ws = Window.partitionBy("query_id").orderBy(
            F.desc("_mmr"), F.asc("neighbor_id")
        )
        pick = (
            pick_base.withColumn("_mmr", score)
            .withColumn("_prn", F.row_number().over(ws))
            .filter(F.col("_prn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                F.lit(r).cast("int").alias("rank"),
                "rel_micro",
            )
        )
        pick = _materialize(pick)
        selected = pick if selected is None else selected.unionByName(pick)
        # only THIS round's pick can still be present in `remaining` —
        # earlier picks were removed in earlier rounds
        remaining = remaining.join(
            pick.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
    return selected
