"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster but testable on local[N]:
- AQE on (runtime join re-selection, skew-join splitting, partition
  coalescing) — replaces the reference's hand-tuned Postgres planner.
- Arrow on for the few Pandas-UDF paths (grounding/scoring analogs).
- Session timezone pinned to UTC so timestamp literals and parquet
  round-trips are engine-independent.
- A generated-code cache sized to the served route mix, so a warm
  server compiles almost nothing per request.  Spark caches one
  compiled class per (generated source, class loader) pair — driver
  and executor threads each compile a stage once — and its default of
  100 entries is smaller than the REST route mix, which then evicts
  and recompiles on nearly every request.  One pass over both
  benchmark workloads' request pools (897 distinct requests) plus the
  REST routes outside them left 218 entries in an unbounded cache; the
  bound is twice that (:data:`DEFAULT_CONF`).  The per-request keys stay
  out of the generated source (:func:`plans.txlog.isin`), so that
  working set does not grow with the keys a server is asked for.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    # the test tables store TIMESTAMP(NANOS) which Spark's vectorized reader
    # rejects; read as long and rebuild timestamps at the source layer
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # compiled-class cache: 2 x the 218 entries one pass over every served
    # route shape left (module docstring).  The cache is split into 4
    # segments that each evict at a quarter of the bound, so a bound the
    # size of the working set would already evict from the fullest
    # segment; the doubling covers that skew and route shapes the pass
    # did not send.  A static conf: it takes effect at session build.
    "spark.sql.codegen.cache.maxEntries": "436",
    # an int-typed InSet looks its values up in its hash set, bound by
    # reference, instead of spelling them into a generated switch: a
    # request's keys never change the generated code (plans.txlog.isin)
    "spark.sql.optimizer.inSetSwitchThreshold": "0",
    # Local-mode friendliness; harmless on a cluster where the submitter
    # overrides these.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "indra-db-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32) so tests and
    bench share one code path; on a real cluster pass ``master=None`` with
    ``spark.master`` preconfigured, or an explicit URL.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or int(cpus))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: rows per slice for driver-built row-list frames (see
#: :func:`local_artifact_df`)
_LOCAL_DF_ROWS_PER_SLICE = 4096


def local_artifact_df(spark: SparkSession, rows, schema):
    """A driver-built row list as a DataFrame whose slice count scales
    with the row count (ceil(rows / 4096), capped at defaultParallelism)
    instead of one pickled slice per core.

    A bare ``createDataFrame(local_rows)`` parallelizes into
    ``defaultParallelism`` pickled slices, so ANY scan of the frame —
    including a 1-row parquet append or a broadcast-exchange build —
    pays one Python-runner round trip per core to deserialize a handful
    of rows each (measured r13/r14: 8–9 executor-seconds for a 128-row
    codebook scan; 4.2 s for a one-row curation-ledger append, 0.3 s
    through this constructor).  Artifact frames are hyperparameter- or
    event-sized, so they land at 1–2 slices at every real sizing;
    corpus-sized frames never take this constructor."""
    rows = rows if isinstance(rows, (list, tuple)) else list(rows)
    sc = spark.sparkContext
    n = max(
        1,
        min(
            sc.defaultParallelism,
            -(-len(rows) // _LOCAL_DF_ROWS_PER_SLICE),
        ),
    )
    return spark.createDataFrame(sc.parallelize(rows, n), schema)
