"""Multi-stage resolve cascade: stage priority and deterministic minting.

The cascade (``operators/resolve.py::resolve_cascade``) re-expresses the
reference's shrinking-key retry loop (``AddressParser/Core/Parser.cs:867-936``)
as three broadcast left joins + one coalesce. These tests pin the two
properties the oracle-parity hash can't isolate: a stronger key always wins
over a weaker one, and a full miss mints the deterministic content id.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Window
from pyspark.sql import functions as F

from addressparser_spark.data.transcripts import demo_registry
from addressparser_spark.operators import blocking
from addressparser_spark.operators.resolve import profile_keys, resolve_cascade


def _profiles(spark, rows):
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string, text string"
    )
    return blocking.conv_profiles(blocking.normalize_turns(t))


def _clusters(p):
    w = Window.partitionBy("sig")
    return p.select("conv_id", F.min("conv_id").over(w).alias("cluster_id"))


def test_stronger_stage_wins(spark):
    """A registry knowing a cluster at BOTH sig and prefix strength resolves
    it at 'sig' — the cascade tries keys strongest-first."""
    p = _profiles(
        spark,
        [
            ("c1", 0, "user", None, "alpha beta gamma"),
            ("c1", 1, "assistant", None, "delta"),
        ],
    )
    k = profile_keys(p).first()
    reg = spark.createDataFrame(
        [
            ("E_SIG", "r1", k["sig"], None, None),
            ("E_PREFIX", "r2", None, k["prefix_key"], None),
            ("E_SYN", "r3", None, None, k["syn_key"]),
        ],
        "entity_id string, rep_conv_id string, sig string, prefix_key string, syn_key string",
    )
    out = resolve_cascade(_clusters(p), p, reg).collect()
    assert len(out) == 1
    assert out[0]["entity_id"] == "E_SIG"
    assert out[0]["resolve_stage"] == "sig"

    # drop the sig entry -> prefix wins; drop both -> synonym wins
    out2 = resolve_cascade(
        _clusters(p), p, reg.filter(F.col("entity_id") != "E_SIG")
    ).collect()
    assert (out2[0]["entity_id"], out2[0]["resolve_stage"]) == ("E_PREFIX", "prefix")
    out3 = resolve_cascade(
        _clusters(p), p, reg.filter(F.col("entity_id") == "E_SYN")
    ).collect()
    assert (out3[0]["entity_id"], out3[0]["resolve_stage"]) == ("E_SYN", "synonym")


def test_full_miss_mints_deterministic_id(spark):
    p = _profiles(spark, [("c9", 0, "user", None, "zeta eta theta")])
    reg = spark.createDataFrame(
        [],
        "entity_id string, rep_conv_id string, sig string, prefix_key string, syn_key string",
    )
    out = resolve_cascade(_clusters(p), p, reg).collect()
    sig = p.first()["sig"]
    want = hashlib.md5(f"entity|{sig}".encode()).hexdigest()
    assert (out[0]["entity_id"], out[0]["resolve_stage"]) == (want, "new")


def test_registry_key_collisions_never_fan_out(spark):
    """Two registry entries sharing one sig must not duplicate output rows;
    the deterministic min(entity_id) is chosen."""
    p = _profiles(spark, [("c5", 0, "user", None, "one two three")])
    sig = p.first()["sig"]
    reg = spark.createDataFrame(
        [("E_B", "r1", sig, None, None), ("E_A", "r2", sig, None, None)],
        "entity_id string, rep_conv_id string, sig string, prefix_key string, syn_key string",
    )
    out = resolve_cascade(_clusters(p), p, reg).collect()
    assert len(out) == 1
    assert out[0]["entity_id"] == "E_A"


def test_demo_registry_is_partial_by_bucket(spark, sf_dir):
    """Each demo-registry row is known at exactly one key strength."""
    from addressparser_spark.data.transcripts import transcripts_df

    p = blocking.conv_profiles(
        blocking.normalize_turns(transcripts_df(spark, sf_dir))
    )
    reg = demo_registry(p)
    bad = reg.filter(
        (F.col("sig").isNotNull().cast("int")
         + F.col("prefix_key").isNotNull().cast("int")
         + F.col("syn_key").isNotNull().cast("int")) != 1
    ).count()
    assert bad == 0
    assert reg.count() > 0
