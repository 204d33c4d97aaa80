"""Embedding-cosine near-dup dedup: threshold semantics + bucket cap."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from addressparser_spark.operators import ann
from addressparser_spark.operators.ann import (
    embedding_dropped_buckets,
    embedding_dup_pairs,
)

DIM = 16


def _vec(rng):
    return [rng.uniform(-1, 1) for _ in range(DIM)]


def test_near_duplicates_detected(spark):
    rng = random.Random(3)
    base = _vec(rng)
    near = [v + rng.uniform(-0.01, 0.01) for v in base]  # cosine ~0.9999
    far = _vec(rng)
    rows = [(0, base), (1, near), (2, far)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        (r["vec_id_a"], r["vec_id_b"]): (r["cosine"], r["is_dup"])
        for r in embedding_dup_pairs(df, dim=DIM).collect()
    }
    # the near pair collides in at least one LSH table (tiny perturbation
    # rarely flips a sign bit) and crosses the dup threshold
    assert (0, 1) in got
    cos, dup = got[(0, 1)]
    assert dup and cos > 0.99
    for pair, (cos, dup) in got.items():
        if pair != (0, 1):
            assert not dup, (pair, cos)


def test_bucket_cap_counted_not_silent(spark, monkeypatch):
    # many identical vectors -> one hot bucket per table, all over the cap
    monkeypatch.setattr(ann, "EMB_MAX_BUCKET", 10)
    rows = [(i, [1.0] * DIM) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    dropped = embedding_dropped_buckets(df, dim=DIM).collect()
    assert len(dropped) > 0
    assert all(r["bucket_n"] == 30 and r["pairs_dropped"] == 435 for r in dropped)
    # capped: the quadratic pair set must not materialize
    assert embedding_dup_pairs(df, dim=DIM).count() == 0
