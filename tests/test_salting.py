"""Salted aggregation preserves semantics and spreads hot keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from addressparser_spark.operators.salting import salted_aggregate, with_salt


def _skewed(spark, n=20_000):
    # ~80% of rows share key 'hot'
    return spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 5 != 0, "hot")
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 7).cast("string")))
        .alias("key"),
        (F.col("id") % 100).cast("double").alias("x"),
    )


def test_salted_aggregate_matches_plain(spark):
    df = _skewed(spark)
    plain = {
        (r["key"],): (r["n"], r["total"])
        for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("total")).collect()
    }
    salted = {
        (r["key"],): (r["n"], r["total"])
        for r in salted_aggregate(
            df, ["key"], "id", {"n": F.count(F.lit(1)), "total": F.sum("x")}
        ).collect()
    }
    assert salted == plain


def test_salt_spreads_hot_key(spark):
    df = _skewed(spark).filter(F.col("key") == "hot")
    n_salts = 16
    counts = [
        r["n"]
        for r in with_salt(df, "id", n_salts).groupBy("__salt").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    assert len(counts) == n_salts
    assert max(counts) < sum(counts) * 0.2  # no salt bucket dominates
