"""Explicit skew handling: salted two-stage aggregation.

AQE's skew-join splitting (enabled in session.py) handles moderate skew at
runtime; salting is the *explicit* layer for an aggregation over a
pathological group key (e.g. one (role, tool) combination covering 30%+ of
all rows — the blocking analog of a mega-city in the reference's data).
Pair self-joins need no salt: ``pairs.bucket_pairs`` caps every key.

The transformation is semantics-preserving and deterministic: the salt is
derived by hashing a distinguishing column (never ``rand()``), so reruns
produce identical plans and results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_SALTS = 16


def with_salt(df: DataFrame, distinct_col: str, n_salts: int = N_SALTS) -> DataFrame:
    """Deterministic salt in [0, n_salts) from a high-cardinality column."""
    return df.withColumn("__salt", F.pmod(F.xxhash64(distinct_col), F.lit(n_salts)))


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    distinct_col: str,
    aggs: dict[str, Column],
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Two-stage aggregation for skewed group keys.

    Stage 1 groups by (keys + salt) — the hot key's rows spread over n_salts
    reducers; stage 2 combines the partials. Supports decomposable aggregates
    expressed as (partial expression, combine function) pairs; the built-ins
    here cover count and sum, the shapes the pipeline needs (block-size
    stats, per-key pair counts).

    ``aggs``: mapping output-name -> partial aggregate Column (e.g.
    ``{"n": F.count(F.lit(1)), "total": F.sum("x")}``); partials are combined
    with SUM, which is correct for count/sum-like partials.
    """
    salted = with_salt(df, distinct_col, n_salts)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[c.alias(f"__p_{name}") for name, c in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(f"__p_{name}").alias(name) for name in aggs]
    )
