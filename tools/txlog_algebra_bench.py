"""Measure txlog-snapshot serving + manifest-stats file pruning on the
query algebra's own tables (r7 verdict #8): amplify the fixture lake's
name_meta, commit it to a TxTable with manifest stats on mk_hash and
ev_count, OPTIMIZE (z-order mk_hash × ev_count), and compare a selective
hash-range probe through ``TxTable.skip_read`` against the full snapshot
scan — files read, wall time, and result parity.  Results land in
SCALING.md §1c.

The probe is the algebra's hot shape: HasHash / FromPapers resolve to
selective mk_hash predicates over name_meta, which the reference serves
with a clustered btree (readonly_schema.py:635-637); here layout +
manifest stats stand in for the btree.

Usage:  PYTHONPATH=. python tools/txlog_algebra_bench.py [factor]
"""

from __future__ import annotations

import sys
import tempfile
import time


def amplified_rows(spark, factor: int):
    """Fixture lake tables with `factor` hash-shifted copies of the model,
    each repartitioned to defaultParallelism (a 1-2-file table measures
    file layout, not the operator)."""
    from pyspark.sql import functions as F

    from indra_db_spark.plans.fixtures import fixture_lake

    lake, _, _ = fixture_lake(spark)
    par = spark.sparkContext.defaultParallelism
    out = {}
    for name, df in lake.tables().items():
        if "mk_hash" in df.columns and factor > 1:
            k = spark.range(factor).select(F.col("id").alias("_k"))
            df = df.crossJoin(k).withColumn(
                "mk_hash",
                F.col("mk_hash") + F.col("_k") * F.lit(1 << 44),
            ).drop("_k")
        out[name] = df.repartition(par)
    return out


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 200

    from indra_db_spark.plans.txlog import TxTable
    from indra_db_spark.session import get_spark

    spark = get_spark("txlog-algebra-bench")
    tables = amplified_rows(spark, factor)
    nm = tables["name_meta"]

    root = tempfile.mkdtemp(prefix="txalg_") + "/name_meta"
    t = TxTable(spark, root)
    t.set_stats_columns("mk_hash", "ev_count")
    t.append(nm)
    n_files = spark.sparkContext.defaultParallelism
    v = t.optimize("mk_hash", "ev_count", n_files=n_files)
    print(f"factor={factor} rows={t.read().count()} files={n_files} v={v}")

    full = t.read()
    lo = full.agg({"mk_hash": "min"}).first()[0]
    hi_all = full.agg({"mk_hash": "max"}).first()[0]
    # a selective probe: 1/256 of the hash space (one paper batch's worth)
    hi = lo + max(1, (hi_all - lo) // 256)

    def timed(df):
        df.count()  # warm
        times = []
        for _ in range(3):
            t0 = time.monotonic()
            n = df.count()
            times.append(time.monotonic() - t0)
        return n, min(times)

    got, files_read, files_total = t.skip_read(
        predicates={"mk_hash": (lo, hi)}
    )
    n_skip, t_skip = timed(got)
    n_full, t_full = timed(full.filter(full.mk_hash.between(lo, hi)))
    assert n_skip == n_full, (n_skip, n_full)
    print(
        f"  hash-range probe: files {files_read}/{files_total} "
        f"rows={n_skip} skip={t_skip:.3f}s full={t_full:.3f}s "
        f"speedup={t_full / t_skip:.2f}x"
    )

    # second dimension: a top-evidence slice (ranked reads) — z-order keeps
    # BOTH dimensions skippable from one layout
    ev_hi = full.agg({"ev_count": "max"}).first()[0]
    got2, fr2, ft2 = t.skip_read(
        predicates={"ev_count": (max(1, ev_hi - 1), ev_hi)}
    )
    n2, t2 = timed(got2)
    nf2, tf2 = timed(
        full.filter(full.ev_count.between(max(1, ev_hi - 1), ev_hi))
    )
    assert n2 == nf2, (n2, nf2)
    print(
        f"  ev-count probe:   files {fr2}/{ft2} rows={n2} "
        f"skip={t2:.3f}s full={tf2:.3f}s speedup={tf2 / t2:.2f}x"
    )

    # round-11 probe: the exact-id point lookup (HasAgent's shape)
    # answered straight off MANIFEST-CARRIED db_id blooms — zero index
    # build, zero table scan — over the key-clustered layout the agent
    # tables would be maintained in (repartition by db_id; at scale the
    # bucketed/OPTIMIZE maintenance output).  This is the end-to-end
    # btree replacement the algebra routes through (lake.pruned →
    # TxTable.skip_read).
    from pyspark.sql import functions as F

    # the fixture has a handful of agent names; real name_meta ids are
    # high-cardinality — derive one id per (name, hash bucket) so the
    # probe models the production shape (~2000 distinct ids here)
    nm_id = nm.withColumn(
        "db_id",
        F.concat(
            F.col("db_id"), F.lit("#"),
            (F.col("mk_hash") % 500).cast("string"),
        ),
    )
    root2 = tempfile.mkdtemp(prefix="txalg_") + "/name_meta_by_id"
    t2x = TxTable(spark, root2)
    t2x.set_stats_columns("ev_count", bloom=("db_id",))
    t2x.append(nm_id.repartition(n_files, "db_id"))
    target = nm_id.groupBy("db_id").count().orderBy("count").first()[0]
    df3, fr3, ft3 = t2x.skip_read(eq={"db_id": target})
    n3, t3 = timed(df3)
    full2 = t2x.read()
    nf3, tf3 = timed(full2.filter(full2.db_id == target))
    assert n3 == nf3, (n3, nf3)
    print(
        f"  db_id bloom probe: files {fr3}/{ft3} rows={n3} "
        f"skip={t3:.3f}s full={tf3:.3f}s speedup={tf3 / t3:.2f}x"
    )
    # proof of absence: an id in no file reads the one schema carrier
    df4, fr4, ft4 = t2x.skip_read(eq={"db_id": "NOSUCHAGENT:xyz"})
    assert df4.count() == 0
    print(f"  absent-id probe:  files {fr4}/{ft4} rows=0")

    # round-12 probe: the prefix-LIKE shape (HasAgent("XYZ%")) served
    # as a RANGE over db_id min/max stats — the text_pattern_ops btree
    # analog — over a db_id RANGE layout (the maintenance layout a
    # prefix-heavy workload would choose; the hash layout above serves
    # the exact-id shape instead).
    from indra_db_spark.plans.queries import _like_prefix_box

    root3 = tempfile.mkdtemp(prefix="txalg_") + "/name_meta_by_id_range"
    t3x = TxTable(spark, root3)
    t3x.set_stats_columns("ev_count", "db_id", bloom=("db_id",))
    t3x.append(nm_id.repartitionByRange(n_files, "db_id"))
    prefix = target.split("#")[0] + "#1"   # matches #1, #1x, #1xx ids
    box = _like_prefix_box(prefix + "%")
    df5, fr5, ft5 = t3x.skip_read(predicates={"db_id": box})
    like5 = df5.filter(df5.db_id.like(prefix + "%"))
    n5, t5 = timed(like5)
    full3 = t3x.read()
    nf5, tf5 = timed(full3.filter(full3.db_id.like(prefix + "%")))
    assert n5 == nf5, (n5, nf5)
    print(
        f"  prefix-LIKE probe: files {fr5}/{ft5} rows={n5} "
        f"skip={t5:.3f}s full={tf5:.3f}s speedup={tf5 / t5:.2f}x"
    )


if __name__ == "__main__":
    main()
