"""Data skipping through the transaction-log manifest (plans/skipindex +
``TxTable.skip_read``): the z-order layout, the bloom hash scheme, and
the pruning rules skip_read applies to manifest-carried stats.  Result
parity with the full scan is unconditional; the measured point is that
the z-ordered layout excludes most files for a box predicate while a
random layout cannot, and that blooms prune point lookups under any
layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from indra_db_spark.plans.skipindex import column_bounds, zvalue_bounds_expr
from indra_db_spark.plans.txlog import TxTable
from indra_db_spark.sources.lake import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "source"
    )


def _box(docs):
    """A selective 2-D box: a tenth of doc_id × a quarter of n_chars.
    Deliberately NOT centered on the midpoint of either axis — a box
    straddling the top interleaved bit of both dimensions is the z-curve's
    known worst case (it touches every quadrant), and production pruning
    claims should be made for the typical case, not the adversarial one
    (the parity assertion still covers correctness everywhere)."""
    b = column_bounds(docs, "doc_id", "n_chars")
    (xlo, xhi), (ylo, yhi) = b["doc_id"], b["n_chars"]
    return {
        "doc_id": (xlo + (xhi - xlo) * 30 // 100, xlo + (xhi - xlo) * 40 // 100),
        "n_chars": (ylo + (yhi - ylo) * 55 // 100, ylo + (yhi - ylo) * 80 // 100),
    }


def _stats_table(spark, root, df, *cols, bloom=()):
    t = TxTable(spark, str(root))
    t.set_stats_columns(*cols, bloom=bloom)
    t.append(df)
    return t


def test_skip_scan_parity_and_pruning(spark, docs, tmp_path_factory):
    """OPTIMIZE's z-order layout makes the manifest's min/max selective
    in both dimensions: skip_read's box prunes at least half of 16
    files, fewer than the same stats prune over a random layout, and
    its result equals the full filter."""
    zt = _stats_table(
        spark, tmp_path_factory.mktemp("zorder") / "t", docs,
        "doc_id", "n_chars",
    )
    zt.optimize("doc_id", "n_chars", n_files=16)
    preds = _box(docs)

    got, files_read, files_total = zt.skip_read(predicates=preds)
    want = docs.filter(
        F.col("doc_id").between(*preds["doc_id"])
        & F.col("n_chars").between(*preds["n_chars"])
    )
    assert want.count() > 0, "fixture box must match rows"
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in want.collect()
    )
    assert files_total == 16
    assert files_read <= files_total // 2

    # against a layout-free baseline the same stats prune ~nothing —
    # the win is the LAYOUT, not the manifest machinery
    rt = _stats_table(
        spark, tmp_path_factory.mktemp("random_layout") / "t",
        docs.repartition(16), "doc_id", "n_chars",
    )
    rgot, rread, rtotal = rt.skip_read(predicates=preds)
    assert sorted(r.doc_id for r in rgot.collect()) == sorted(
        r.doc_id for r in want.collect()
    )
    assert files_read < rread, (files_read, rread, rtotal)


def test_skip_scan_empty_box(spark, docs, tmp_path_factory):
    """A box beyond every file's range prunes every data file:
    skip_read opens only the one schema carrier and returns no rows."""
    zt = _stats_table(
        spark, tmp_path_factory.mktemp("zorder_empty") / "t", docs,
        "doc_id", "n_chars",
    )
    zt.optimize("doc_id", "n_chars", n_files=8)
    hi = column_bounds(docs, "doc_id")["doc_id"][1]
    out, nread, ntotal = zt.skip_read(
        predicates={"doc_id": (hi + 10, hi + 20)}
    )
    assert out.count() == 0 and nread == 1 and ntotal == 8


def test_bloom_point_lookup_prunes_under_any_layout(
    spark, docs, tmp_path_factory
):
    """Equality lookup on a high-cardinality column via the manifest's
    per-file blooms: min/max can't prune a random layout (every file
    spans ~the full id range) but the bloom narrows a point lookup to ~1
    file — and an absent id inside every range reads only the schema
    carrier."""
    hi = docs.agg(F.max("doc_id")).first()[0]
    some_id, absent_id = hi - 7, hi - 9
    t = _stats_table(
        spark, tmp_path_factory.mktemp("bloom_layout") / "t",
        docs.filter(F.col("doc_id") != absent_id).repartition(16),
        "doc_id", bloom=("doc_id",),
    )

    got, nread, ntotal = t.skip_read(eq={"doc_id": some_id})
    want = docs.filter(F.col("doc_id") == some_id)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert want.count() == 1
    assert ntotal == 16
    # the id lives in exactly one file; the FPR may add a stray file
    assert nread <= 3, nread
    # min/max alone could not have pruned this layout
    stats = t._stats_of(t._read_version(t.snapshot()[0]))

    def mm_keep(v):
        return sum(
            1 for st in stats.values()
            if st["c"]["doc_id"][0] <= v <= st["c"]["doc_id"][1]
        )

    assert mm_keep(some_id) > nread
    # absent key: the blooms prove absence where min/max admits files
    out, n0, _ = t.skip_read(eq={"doc_id": absent_id})
    assert out.count() == 0 and n0 == 1 < mm_keep(absent_id)


def test_zvalue_locality(spark, docs):
    """Adjacent z-values must be adjacent in both dimensions: the max
    per-step coordinate jump across the z-curve stays far below the
    uniform-shuffle expectation (this is the property pruning rests on)."""
    from pyspark.sql.window import Window

    b = docs.agg(
        F.min("doc_id").alias("_xlo"),
        F.max("doc_id").alias("_xhi"),
        F.min("n_chars").alias("_ylo"),
        F.max("n_chars").alias("_yhi"),
    )
    z = (
        docs.crossJoin(F.broadcast(b))
        .select(
            "doc_id",
            "n_chars",
            F.expr(zvalue_bounds_expr("doc_id", "n_chars")).alias("z"),
        )
    )
    w = Window.orderBy("z")
    steps = z.select(
        (F.col("n_chars") - F.lag("n_chars").over(w)).alias("dy")
    ).filter(F.col("dy").isNotNull())
    span = docs.agg(
        (F.max("n_chars") - F.min("n_chars")).alias("s")
    ).first()["s"]
    mean_jump = steps.agg(F.avg(F.abs(F.col("dy")))).first()[0]
    # a random ordering's mean |Δn_chars| is ≈ span/3; the z-curve's must
    # be a small fraction of that
    assert mean_jump < span / 6


def test_zvalue_n_dims_cross_engine(spark, docs):
    """The n-ary Morton builder emits ONE expression string both engines
    evaluate identically (3 dims × 8 bits here), and rejects geometries
    that overflow the 63 interleaved-bit budget."""
    import duckdb
    import pandas as pd

    from indra_db_spark.plans.skipindex import (
        _int_div_fix,
        norm_sql,
        zvalue_sql,
    )

    norms = [
        norm_sql("doc_id", "0", "100000", 8),
        norm_sql("n_chars", "0", "100000", 8),
        norm_sql("doc_id % 97", "0", "96", 8),
    ]
    z = zvalue_sql(*[f"({n})" for n in norms], bits=8)
    got = {
        r.doc_id: r.z
        for r in docs.select(
            "doc_id", F.expr(_int_div_fix(z, duckdb=False)).alias("z")
        ).collect()
    }
    pdf = docs.select("doc_id", "n_chars").toPandas()
    con = duckdb.connect()
    con.register("d", pdf)
    want = dict(
        con.execute(
            f"SELECT doc_id, {_int_div_fix(z, duckdb=True)} AS z FROM d"
        ).fetchall()
    )
    assert got == want and len(got) > 0

    with pytest.raises(ValueError):
        zvalue_sql("a", "b", "c", "d", bits=16)


def test_skip_read_ignores_files_dead_after_compaction(
    spark, tmp_path_factory
):
    """skip_read prunes the manifest's LIVE file list, not the
    directory: files left on disk by compaction (pre-vacuum) are never
    read, and a full-range box equals the snapshot read."""
    import os

    root = str(tmp_path_factory.mktemp("txidx") / "t")
    t = TxTable(spark, root)
    t.set_stats_columns("k", bloom=("k",))
    for lo in (0, 200):
        t.append(
            spark.range(lo, lo + 200).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("v")
            )
        )
    t.compact()  # rewrites data; old files stay on disk until vacuum
    version, live = t.snapshot()[:2]
    on_disk = set(os.listdir(f"{root}/data"))
    assert on_disk - set(live), "compaction must leave dead files"

    got, nread, ntotal = t.skip_read(eq={"k": 123})
    assert [(r.k, r.v) for r in got.collect()] == [(123, 369)]
    assert nread <= ntotal == len(live)
    full, _, _ = t.skip_read(predicates={"k": (0, 400)})
    read = {f.rsplit("/", 1)[-1] for f in full.inputFiles()}
    assert read <= set(live)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, t.read(version).collect())
    )


def test_manifest_stats_match_file_scan(spark, tmp_path_factory):
    """The stats the manifest carries per file (row count, min, max)
    equal a scan of each file, and skip_read prunes on them."""
    root = str(tmp_path_factory.mktemp("txstats") / "t")
    t = _stats_table(
        spark, root,
        spark.range(0, 1_000)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
        .repartitionByRange(5, "k"),
        "k",
    )
    stats = t._stats_of(t._read_version(t.snapshot()[0]))
    scanned = {
        r.f.rsplit("/", 1)[-1]: (r.n, [r.lo, r.hi])
        for r in t.read()
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("lo"),
            F.max("k").alias("hi"),
        )
        .collect()
    }
    assert {f: (st["n"], st["c"]["k"]) for f, st in stats.items()} == scanned
    out, n_read, n_total = t.skip_read(predicates={"k": (100, 220)})
    assert n_read < n_total == 5
    assert {r.k for r in out.collect()} == set(range(100, 221))


def _all_null_stats_table(spark, root):
    """Two single-file appends on stats column ``v``: file one holds
    v in {10, 20}, file two holds only NULL v."""
    t = TxTable(spark, root)
    t.set_stats_columns("v")
    t.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(3, None), (4, None)], "k int, v int")
        .coalesce(1)
    )
    return t


def test_skip_scan_all_null_stats_file_pruned(spark, tmp_path_factory):
    """A file whose stats column is entirely NULL is PRUNED by a bounded
    box (NULL never satisfies a between predicate) instead of crashing
    the driver-side comparison of None with an int bound."""
    t = _all_null_stats_table(
        spark, str(tmp_path_factory.mktemp("nullstats") / "t")
    )
    out, n_read, n_total = t.skip_read(predicates={"v": (5, 25)})
    assert n_total == 2 and n_read == 1
    assert {r.k for r in out.collect()} == {1, 2}


def test_skip_scan_manifest_all_null_file_pruned(spark, tmp_path_factory):
    """The manifest entry of an all-NULL stats column is [None, None],
    and min/max point lookups (a single value or an IN-list) prune that
    file the way a bounded box does: no crash, exact rows."""
    root = str(tmp_path_factory.mktemp("txnull") / "t")
    t = _all_null_stats_table(spark, root)
    stats = t._stats_of(t._read_version(t.snapshot()[0]))
    assert sorted(
        (st["c"]["v"] for st in stats.values()), key=str
    ) == [[10, 20], [None, None]]
    out, n_read, n_total = t.skip_read(eq={"v": 20})
    assert n_total == 2 and n_read == 1
    assert [r.k for r in out.collect()] == [2]
    out, n_read, _ = t.skip_read(eq={"v": [10, 15]})
    assert n_read == 1
    assert [r.k for r in out.collect()] == [1]


def test_skip_read_mixed_type_stats_admit_not_crash(
    spark, tmp_path_factory
):
    """One file carrying a STRINGIFIED legacy stat next to native
    numerics cannot be compared with an int bound: skip_read admits that
    file unpruned (never crashes, never mis-prunes) and stays exact."""
    root = str(tmp_path_factory.mktemp("txmixed") / "t")
    t = TxTable(spark, root)
    t.set_stats_columns("v")
    t.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(3, 90), (4, 95)], "k int, v int")
        .coalesce(1)
    )
    real = t._stats_of(t._read_version(t.snapshot()[0]))
    doctored = {f: dict(st) for f, st in real.items()}
    # the file the box would prune, had its stat stayed native
    legacy = next(f for f, st in real.items() if st["c"]["v"] == [10, 20])
    doctored[legacy] = {"n": real[legacy]["n"], "c": {"v": ["10", "20"]}}
    t._stats_of = lambda body: doctored  # forge a legacy mixed manifest
    out, n_read, n_total = t.skip_read(predicates={"v": (85, 100)})
    assert n_total == 2 and n_read == 2
    assert {r.k for r in out.collect()} == {3, 4}


def test_skip_read_probes_each_file_under_its_own_bloom_budget(
    spark, tmp_path_factory
):
    """Re-configuring the bloom budget leaves older files' words packed
    under the old m/k; every manifest entry records its own [m, k], so
    skip_read probes each file under the budget its words were packed
    with and prunes soundly across the mix."""
    root = str(tmp_path_factory.mktemp("txmk") / "t")
    t = TxTable(spark, root)
    t.set_stats_columns("k", bloom=("k",))
    t.append(spark.createDataFrame([(1,), (2,)], "k int").coalesce(1))
    t.set_stats_columns("k", bloom=("k",), bloom_m=4096, bloom_k=2)
    t.append(spark.createDataFrame([(3,), (4,)], "k int").coalesce(1))
    stats = t._stats_of(t._read_version(t.snapshot()[0]))
    assert sorted(st["b"]["k"][:2] for st in stats.values()) == [
        [4096, 2], [8192, 3],
    ]
    for k in (1, 3):
        out, n_read, n_total = t.skip_read(eq={"k": k})
        assert n_total == 2 and n_read == 1
        assert [r.k for r in out.collect()] == [k]


def test_bloom_index_all_null_file_kept_and_mixed_budgets(
    spark, tmp_path_factory
):
    """(a) A file whose BLOOM column is entirely NULL carries an empty
    word map: eq probes prune it (proof of absence), while range
    predicates on other columns still read it — its rows are never lost.
    The same holds when the bloom column is NULL in every file.
    (b) After a bloom budget change the manifest mixes budgets, and eq
    probes still find present values and prove absent ones.  (The
    bloom column NULL in every file is its own test below.)"""
    root = str(tmp_path_factory.mktemp("bloomnull") / "t")
    t = TxTable(spark, root)
    t.set_stats_columns("k", bloom=("g",))
    t.append(
        spark.createDataFrame([(1, "a"), (2, "a")], "k int, g string")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(3, None), (4, None)], "k int, g string")
        .coalesce(1)
    )
    out, n_read, n_total = t.skip_read(predicates={"k": (3, 4)})
    assert n_total == 2 and n_read == 1
    assert {r.k for r in out.collect()} == {3, 4}  # its rows still served
    out2, n2, _ = t.skip_read(eq={"g": "a"})
    assert n2 == 1 and {r.k for r in out2.collect()} == {1, 2}

    t.set_stats_columns("k", bloom=("g",), bloom_m=4096, bloom_k=2)
    t.append(
        spark.createDataFrame([(5, "z"), (6, "z")], "k int, g string")
        .coalesce(1)
    )
    out3, n3, t3 = t.skip_read(eq={"g": "z"})
    assert t3 == 3 and n3 == 1
    assert {r.k for r in out3.collect()} == {5, 6}
    # proof of absence survives the mixed budgets: the schema carrier only
    out4, n4, _ = t.skip_read(eq={"g": "absent"})
    assert n4 == 1 and out4.count() == 0


def test_index_tx_table_all_null_bloom_stays_zero_scan(
    spark, tmp_path_factory
):
    """A bloom column with ZERO words in every file (all-NULL column) is
    a valid always-miss filter: an eq probe reads no data file (only the
    schema carrier), while range pruning on the carried min/max of
    another column still works."""
    nt = TxTable(spark, str(tmp_path_factory.mktemp("txnullbloom") / "t"))
    nt.set_stats_columns("k", bloom=("g",))
    for lo in (0, 100):
        nt.append(
            spark.range(lo, lo + 100)
            .select(
                F.col("id").alias("k"),
                F.lit(None).cast("string").alias("g"),
            )
            .coalesce(1)
        )
    out5, n5, t5 = nt.skip_read(eq={"g": "anything"})
    assert (n5, t5) == (1, 2) and out5.count() == 0
    out6, n6, _ = nt.skip_read(predicates={"k": (120, 150)})
    assert n6 == 1
    assert {r.k for r in out6.collect()} == set(range(120, 151))


def test_bloom_positions_sql_python_parity(spark):
    """The bloom hash scheme is defined twice — once as SQL
    (``operators.sampling._bloom_pos_sql``, what stats jobs execute) and
    once in Python (``bloom_positions``, what driver-side probes
    execute) — and pruning is only SOUND if they agree bit-for-bit: a
    divergent position would let a probe "prove" a present value absent.
    Battery covers every XXH64 tail path (0/1/4/8/31/32/33/100-byte
    strings), unicode, int-valued strings (the CAST(col AS STRING) form
    every stats collector uses), negative numbers, and NULL (the SQL
    builder must yield NULL — no positions — so all-NULL files keep
    their empty absence-proving word maps)."""
    from indra_db_spark.operators.sampling import _bloom_pos_sql
    from indra_db_spark.plans.skipindex import bloom_positions

    m, k = 1 << 17, 3
    vals = [
        "", "a", "abcd", "abcdefgh", "x" * 31, "y" * 32, "z" * 33,
        "w" * 100, "1337", "-77", "3.5", "héllo wörld", "日本語テキスト",
        "MEK", "D000818",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = df.select(
        "s",
        *[F.expr(_bloom_pos_sql(i, m, "s")).alias(f"p{i}") for i in range(k)],
    ).collect()
    for r in got:
        expect = bloom_positions(r.s, m, k)
        sql_pos = [(r[f"p{i}"] // 64, 1 << (r[f"p{i}"] % 64)) for i in range(k)]
        assert sql_pos == expect, f"scheme fork for {r.s!r}"

    # NULL contributes no positions on the SQL side (probe side never
    # sees NULL eq values — SQL `col = NULL` matches nothing anyway)
    null_row = (
        spark.createDataFrame([(None,)], "s string")
        .select(*[F.expr(_bloom_pos_sql(i, m, "s")).alias(f"p{i}") for i in range(k)])
        .first()
    )
    assert all(null_row[f"p{i}"] is None for i in range(k))

    # int-typed column through the stats collectors' CAST form
    idf = spark.createDataFrame([(77,), (1337,)], "v bigint").select(
        "v", F.expr(_bloom_pos_sql(0, m, "CAST(v AS STRING)")).alias("p0")
    )
    for r in idf.collect():
        assert (r.p0 // 64, 1 << (r.p0 % 64)) == bloom_positions(r.v, m, 1)[0]
