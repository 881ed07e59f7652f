"""Schema/row-count snapshot + diff — the materialization regression gate.

The reference dumps a {table -> (columns, row count)} snapshot of the built
readonly DB and aborts the release when it drifts from a golden copy
(readonly_dumping/util.py:175-271, checked at readonly_dumping.py:2295-2302).
Same contract here over DataFrames; counts run as one job per table (cheap:
count() is a partial-aggregated scan).

The same snapshot rides the release format: a release is the lake's tables
committed through the transaction log plus one release record naming a
version per table (:func:`write_release`, :func:`load_release`).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from indra_db_spark.plans import fsutil


def snapshot(tables: dict[str, DataFrame]) -> dict:
    return {
        name: {
            "columns": [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in df.schema.fields
            ],
            "rows": df.count(),
        }
        for name, df in sorted(tables.items())
    }


def diff_snapshots(golden: dict, current: dict, row_tolerance: float = 0.0) -> list[str]:
    """Human-readable drift list; empty means the build matches golden.

    ``row_tolerance`` permits fractional row-count drift (supplemental
    builds grow tables; schema drift is never tolerated).
    """
    problems: list[str] = []
    for name in sorted(set(golden) | set(current)):
        if name not in current:
            problems.append(f"missing table: {name}")
            continue
        if name not in golden:
            problems.append(f"unexpected table: {name}")
            continue
        g, c = golden[name], current[name]
        if g["columns"] != c["columns"]:
            problems.append(
                f"{name}: schema drift {json.dumps(g['columns'])} -> "
                f"{json.dumps(c['columns'])}"
            )
        lo = g["rows"] * (1 - row_tolerance)
        hi = g["rows"] * (1 + row_tolerance)
        if not (lo <= c["rows"] <= hi):
            problems.append(f"{name}: rows {g['rows']} -> {c['rows']}")
    return problems


def commit_release(
    spark, root: str, versions: dict[str, int], meta: dict | None = None
) -> dict:
    """Claim the next release record under ``root`` and return it.

    ``versions`` names one committed transaction-log version per table
    under ``root``; the record holds it, the :func:`snapshot` of the
    tables re-read at those versions, and the caller's ``meta``.  The
    record is claimed put-if-absent as the next ``v{N:012d}.json`` in
    the release root's own ``_txlog/`` directory, through the same
    :class:`plans.txlog.LogStore` a table's commits use, so two
    publishers racing never overwrite each other's record.  Tables
    committed after the newest record are invisible to
    :func:`load_release` until a record naming them commits."""
    from indra_db_spark.plans.lake import ReadonlyLake
    from indra_db_spark.plans.txlog import (
        LOG_DIR,
        default_log_store,
        log_versions,
    )

    root = root.rstrip("/")
    written = ReadonlyLake.from_txlog(spark, root, version=versions)
    unopened = sorted(set(versions) - set(written.tables()))
    if unopened:
        # from_txlog serves only READONLY_SCHEMAS tables holding data; a
        # record naming any other table would silently drop it
        raise ValueError(f"release under {root} cannot serve {unopened}")
    record = {
        "versions": dict(versions),
        "tables": snapshot(written.tables()),
        "meta": meta or {},
    }
    payload = json.dumps(record, indent=1, sort_keys=True).encode("utf-8")
    fsutil.mkdirs(spark, fsutil.join(root, LOG_DIR))
    fs, jvm = fsutil._hadoop(spark, root)[0], spark.sparkContext._jvm
    store = default_log_store(fs, jvm, root)
    n = (log_versions(fs, jvm, root) or [0])[-1] + 1
    while not store.try_create(f"v{n:012d}.json", payload):
        n += 1  # a racing publisher claimed n first
    return record


def write_release(lake, root: str, meta: dict | None = None) -> dict:
    """Publish the readonly lake as a release under ``root`` — the
    reference's Start→…→End dump chain with its S3 manifest role
    (databases.py:1121-1228, cli/dump.py:284-614), which swaps in a
    whole readonly schema per release.

    Every table is committed through the transaction log with the
    serving skipping stats (:meth:`ReadonlyLake.write_txlog`,
    ``stats=True``); then, last, :func:`commit_release` claims the
    record naming the committed versions.  The record is computed by
    RE-READING the tables at those versions, so a partial or failed
    table write cannot produce a record that validates.  Appends only:
    a root that already holds a release record or one of the lake's
    tables raises ValueError, since writing the lake again would double
    every table (an incremental release appends to the tables itself,
    then calls :func:`commit_release`).  Returns the record."""
    from indra_db_spark.plans.txlog import LOG_DIR

    spark, root = lake.spark, root.rstrip("/")
    held = [LOG_DIR, *(fsutil.join(n, LOG_DIR) for n in lake.tables())]
    if any(fsutil.is_dir(spark, fsutil.join(root, p)) for p in held):
        raise ValueError(f"{root} already holds a release; write to a fresh root")
    versions = lake.write_txlog(spark, root, stats=True)
    return commit_release(spark, root, versions, meta)


def load_release(spark, root: str, strict: bool = True, row_tolerance: float = 0.0):
    """Open the newest release under ``root`` as a ReadonlyLake at the
    table versions its record names, validating the recorded snapshot
    against what was actually read (the reference's golden snapshot
    check at restore time, readonly_dumping.py:2295-2302).  Commits
    that landed after the newest record (a release still being
    written) are not served.

    Returns (lake, problems); ``strict`` raises on any drift.  A root
    with no release record raises ValueError."""
    from indra_db_spark.plans.lake import ReadonlyLake
    from indra_db_spark.plans.txlog import LOG_DIR, log_versions

    root = root.rstrip("/")
    fs, jvm = fsutil._hadoop(spark, root)[0], spark.sparkContext._jvm
    log = fsutil.join(root, LOG_DIR)
    numbers = log_versions(fs, jvm, root) if fsutil.is_dir(spark, log) else []
    if not numbers:
        raise ValueError(f"no release record under {root}")
    stream = fs.open(
        jvm.org.apache.hadoop.fs.Path(fsutil.join(log, f"v{numbers[-1]:012d}.json"))
    )
    try:
        # commons-io ships with Hadoop; a py4j-side read loop would not
        # see Java's writes into a passed bytearray (py4j copies by value)
        record = json.loads(
            jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()
    lake = ReadonlyLake.from_txlog(spark, root, version=record["versions"])
    problems = diff_snapshots(
        record["tables"], snapshot(lake.tables()), row_tolerance
    )
    if strict and problems:
        raise ValueError(f"release drift: {problems}")
    return lake, problems
