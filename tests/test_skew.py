"""Salted aggregation and salted join vs naive results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_automation_spark.operators.skew import salted_agg


@pytest.fixture(scope="module")
def skewed(spark):
    """1 hot key owning ~90% of rows + 50 cold keys."""
    hot = spark.range(9000).select(
        F.lit("hot-host").alias("k"), (F.col("id") % 100).cast("double").alias("v")
    )
    cold = spark.range(1000).select(
        F.concat(F.lit("cold-"), (F.col("id") % 50).cast("string")).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    return hot.unionByName(cold).cache()


def test_salted_agg_identical_to_naive(skewed):
    naive = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in skewed.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in salted_agg(
            skewed,
            ["k"],
            {"n": ("count", "*"), "s": ("sum", "v"), "mn": ("min", "v"), "mx": ("max", "v")},
        ).collect()
    }
    assert salted == naive


def test_salted_agg_splits_hot_group(skewed):
    """The phase-1 partial table must contain >1 row for the hot key."""
    from pyspark.sql import functions as F2

    partials = (
        skewed.withColumn("__salt", F2.pmod(F2.spark_partition_id().cast("long"), F2.lit(8)))
        .groupBy("k", "__salt")
        .count()
    )
    hot_parts = partials.filter(F2.col("k") == "hot-host").count()
    assert hot_parts > 1


def test_salted_agg_rejects_non_algebraic(skewed):
    with pytest.raises(ValueError):
        salted_agg(skewed, ["k"], {"m": ("median", "v")})


class TestSaltedJoin:
    @staticmethod
    def _skewed(spark):
        fact = spark.range(20_000).selectExpr(
            "CASE WHEN id % 100 < 95 THEN 'hot' ELSE concat('k', id % 37) END AS key",
            "id AS v",
        )
        dim = spark.range(40).selectExpr(
            "CASE WHEN id = 0 THEN 'hot' ELSE concat('k', id % 37) END AS key",
            "id * 10 AS dim_v",
        ).dropDuplicates(["key"])
        return fact, dim

    def test_inner_identical_to_plain(self, spark):
        from document_automation_spark.operators.skew import salted_join

        fact, dim = self._skewed(spark)
        plain = fact.join(dim, ["key"]).groupBy("key").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"), F.max("dim_v").alias("dv")
        )
        salted = salted_join(fact, dim, ["key"], n_salt=8).groupBy("key").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"), F.max("dim_v").alias("dv")
        )
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    def test_left_keeps_unmatched_fact_rows_once(self, spark):
        from document_automation_spark.operators.skew import salted_join

        fact, dim = self._skewed(spark)
        dim_missing = dim.filter(F.col("key") != "k3")
        plain = fact.join(dim_missing, ["key"], "left")
        salted = salted_join(fact, dim_missing, ["key"], n_salt=8, how="left")
        assert plain.count() == salted.count() == fact.count()
        assert (
            salted.filter(F.col("key") == "k3").filter(F.col("dim_v").isNotNull()).count() == 0
        )

    def test_right_full_rejected(self, spark):
        from document_automation_spark.operators.skew import salted_join

        fact, dim = self._skewed(spark)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="inner/left"):
            salted_join(fact, dim, ["key"], how="full")
