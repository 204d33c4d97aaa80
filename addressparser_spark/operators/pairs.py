"""Candidate-pair generation within blocks, with skew guardrails.

The quadratic blowup inside a hot block is the scale risk (a block of n
conversations yields n(n-1)/2 pairs). Mirroring the reference's candidate-set
guardrail (short-circuit at 100 candidates, ``AddressSearcher.cs:69``), blocks
larger than ``MAX_BLOCK_SIZE`` are DROPPED from pair generation and **counted**
— never silently (the cap + dropped-block metrics surface in the pipeline's
lineage output). Within-threshold skew is left to AQE's skew-join splitting
(enabled in session.py).

The pair join is a self equi-join on ``block_key`` — a shuffle hash join on a
uniformly-distributed md5 key; `conv_a < conv_b` canonicalizes orientation and
``distinct`` merges pairs discovered via multiple key families (a pair found
by both `sig` and an LSH band scores once). Block rows that carry their
conversation's ``sig`` (``blocking.block_table``) bring it to both sides of
the pair as ``sig_a``/``sig_b``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .salting import salted_join

MAX_BLOCK_SIZE = 100
# blocks at >= this fraction of the cap count as hot for the pair self-join:
# the cap bounds the quadratic cell, but a 100-row block is still a 100x100
# join cell landing on ONE reducer under hash partitioning
HOT_BLOCK_FRACTION = 0.5


def block_sizes(blocks: DataFrame) -> DataFrame:
    return blocks.groupBy("block_key").agg(F.count(F.lit(1)).alias("block_n"))


def dropped_blocks(blocks: DataFrame) -> DataFrame:
    """(block_key, block_n, pairs_dropped): the blocks over the size cap."""
    return block_sizes(blocks).filter(F.col("block_n") > MAX_BLOCK_SIZE).select(
        "block_key",
        "block_n",
        ((F.col("block_n") * (F.col("block_n") - 1)) / 2).cast("bigint").alias("pairs_dropped"),
    )


def candidate_pairs(blocks: DataFrame, salt_hot_blocks: bool | None = None) -> DataFrame:
    """(conv_a, conv_b) with conv_a < conv_b, deduped across key families,
    plus (sig_a, sig_b) when ``blocks`` carries ``sig``.

    ``blocks`` fans out into three consumers (size stats, both join sides),
    so the caller persists it first (``run_linkage`` and ``queries._blocks``
    do): recomputing the MinHash sketch three times is never the right plan.

    Residual skew below the cap: blocks the cap keeps can still be ~cap-sized
    (a 100-row block = a 100x100 join cell on one reducer). With
    ``salt_hot_blocks=None`` one O(1) aggregate over the block sizes
    decides — the same runtime-stats-then-replan move AQE makes, but
    ahead of the shuffle AQE can only split after materializing. When any
    near-cap block exists, the self-join routes through ``salted_join``: the
    a-side salted by conv-id hash, the b-side replicated per salt, cold
    blocks on the plain path. The pair SET is identical either way (salting
    only re-partitions the enumeration), so every downstream oracle is
    unaffected.

    The probe is eager: ``salt_hot_blocks=None`` runs one Spark job when
    this function is called, not when the returned frame is used. That job
    reads the caller's persisted copy of ``blocks`` and fills it, so the
    MinHash lineage is not recomputed for it.
    """
    # ONE size aggregation feeds the cap filter, the probe and the salted
    # path's hot set — the shared subtree's shuffle exchange is reused in
    # the final plan instead of re-aggregating per consumer
    sizes = block_sizes(blocks)
    kept = blocks.join(
        sizes.filter(F.col("block_n") <= MAX_BLOCK_SIZE), "block_key", "left_semi"
    )
    hot_threshold = max(2, int(MAX_BLOCK_SIZE * HOT_BLOCK_FRACTION))
    hot_df = sizes.filter(
        (F.col("block_n") <= MAX_BLOCK_SIZE) & (F.col("block_n") >= hot_threshold)
    ).select("block_key")
    if salt_hot_blocks is None:
        salt_hot_blocks = bool(hot_df.limit(1).count())
    carry = ["sig"] if "sig" in blocks.columns else []

    def side(s: str) -> DataFrame:
        return kept.select(
            "block_key", F.col("conv_id").alias(f"conv_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    a, b = side("a"), side("b")
    if salt_hot_blocks:
        joined = salted_join(a, b, "block_key", "conv_a", hot=hot_df)
    else:
        joined = a.join(b, "block_key")
    # sig is a function of the conv id, so deduping on every column is
    # deduping on the pair, and a filter on the sigs can move below it
    return (
        joined.filter(F.col("conv_a") < F.col("conv_b"))
        .select("conv_a", "conv_b", *[f"{c}_{s}" for c in carry for s in "ab"])
        .distinct()
    )
