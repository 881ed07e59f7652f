"""Scale-primitive tests: salted joins/aggs equal their plain forms."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from indra_db_spark.operators.skew import salted_join, two_phase_agg


@pytest.fixture(scope="module")
def skewed(spark):
    # 10k rows, 80% on one hot key
    return spark.range(10_000).select(
        F.when(F.col("id") % 5 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        (F.col("id") % 97).alias("v"),
    )


def test_salted_join_equals_plain(spark, skewed):
    dim = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("label")
    )
    plain = Counter(tuple(r) for r in skewed.join(dim, "k").collect())
    salted = Counter(tuple(r) for r in salted_join(skewed, dim, "k").collect())
    assert salted == plain


def test_two_phase_agg_equals_plain(spark, skewed):
    plain = {
        r.k: (r.n, r.s)
        for r in skewed.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    got = {
        r.k: (r.n, r["sum_v"]) for r in two_phase_agg(skewed, "k", "v").collect()
    }
    assert got == plain


def test_salted_join_rejects_outer(spark, skewed):
    dim = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_join(skewed, dim, "k", how="right")
    with pytest.raises(ValueError):
        salted_join(skewed.withColumn("_salt", F.lit(1)), dim, "k")
