"""Salting preserves semantics and spreads hot keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from addressparser_spark.operators.salting import (
    hot_keys,
    salted_aggregate,
    salted_join,
    with_salt,
)


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


def test_salted_join_matches_plain(spark):
    facts = _skewed(spark)
    dim = spark.createDataFrame(
        [("hot", "HOT"), ("k0", "K0"), ("k3", "K3")], ["key", "label"]
    )
    plain = {(r["id"], r["label"]) for r in facts.join(dim, "key").collect()}
    salted = {
        (r["id"], r["label"])
        for r in salted_join(facts, dim, "key", "id", threshold=1000).collect()
    }
    assert salted == plain


def test_hot_key_detection(spark):
    df = _skewed(spark)
    hot = {r["key"] for r in hot_keys(df, "key", threshold=1000).collect()}
    assert hot == {"hot"}


def test_salted_join_balances_hot_block(spark):
    """Pathological blocking key: one block holds ~80% of candidate-pair rows.

    With AQE off and broadcast off (the regime where explicit salting is the
    only defense — dim too big to broadcast, runtime skew split unavailable),
    a plain shuffle join lands the whole hot block in ONE reducer partition;
    salted_join spreads it across the salt space. partition_histogram is the
    same lineage signal the pipeline emits for skew diagnosis.
    """
    from addressparser_spark.plans.pipeline import partition_histogram

    n = 40_000
    facts = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 5 != 0, "block_hot")
        .otherwise(F.concat(F.lit("b"), (F.col("id") % 97).cast("string")))
        .alias("key"),
    )
    dim = facts.select("key").distinct().withColumn("label", F.upper("key"))
    conf = spark.conf
    old_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        h_plain = partition_histogram(facts.join(dim, "key"))
        h_salted = partition_histogram(
            salted_join(facts, dim, "key", "id", threshold=1000)
        )
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        conf.set("spark.sql.adaptive.enabled", old_aqe)

    def top_share(h):
        return max(r["rows"] for r in h) / sum(r["rows"] for r in h)

    assert sum(r["rows"] for r in h_salted) == sum(r["rows"] for r in h_plain)
    assert top_share(h_plain) > 0.5  # hot block swamps one reducer
    assert top_share(h_salted) < 0.3  # salted: no partition dominates


def test_salt_spreads_hot_key(spark):
    df = _skewed(spark).filter(F.col("key") == "hot")
    n_salts = 16
    counts = [
        r["n"]
        for r in with_salt(df, "id", n_salts).groupBy("__salt").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    assert len(counts) == n_salts
    assert max(counts) < sum(counts) * 0.2  # no salt bucket dominates


def test_candidate_pairs_salts_near_cap_blocks(spark):
    """Live-path integration (r4 advice): candidate_pairs auto-routes
    near-cap blocks through salted_join and the pair SET is unchanged.

    The probe sees the 80-row block (>= cap * HOT_BLOCK_FRACTION = 50) and
    picks the salted plan — visible as the deterministic xxhash64 salt in
    the optimized plan; a uniform fixture picks the plain join."""
    from addressparser_spark.operators.pairs import candidate_pairs

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    hot = [("hot", f"h{i:03d}") for i in range(80)]
    cold = [(f"b{j}", f"c{j:03d}x{k}") for j in range(40) for k in range(3)]
    blocks = spark.createDataFrame(hot + cold, ["block_key", "conv_id"])

    auto = candidate_pairs(blocks)
    assert "xxhash64" in plan(auto)  # probe chose the salted self-join
    plain = candidate_pairs(blocks, salt_hot_blocks=False)
    assert "xxhash64" not in plan(plain)

    got = {(r["conv_a"], r["conv_b"]) for r in auto.collect()}
    want = {(r["conv_a"], r["conv_b"]) for r in plain.collect()}
    assert got == want
    assert len(want) == 80 * 79 // 2 + 40 * 3  # hot block pairs + 3 per cold block

    uniform = spark.createDataFrame(cold, ["block_key", "conv_id"])
    assert "xxhash64" not in plan(candidate_pairs(uniform))
