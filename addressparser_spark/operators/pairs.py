"""Candidate-pair generation within blocks, with skew guardrails.

The quadratic blowup inside a hot block is the scale risk (a block of n
conversations yields n(n-1)/2 pairs). Mirroring the reference's candidate-set
guardrail (short-circuit at 100 candidates, ``AddressSearcher.cs:69``), blocks
larger than ``max_block_size`` are DROPPED from pair generation and **counted**
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
from pyspark.storagelevel import StorageLevel

from .salting import salted_join

MAX_BLOCK_SIZE = 100
# blocks at >= this fraction of the cap count as hot for the pair self-join:
# the cap bounds the quadratic cell, but a 100-row block is still a 100x100
# join cell landing on ONE reducer under hash partitioning
HOT_BLOCK_FRACTION = 0.5


def block_sizes(blocks: DataFrame) -> DataFrame:
    return blocks.groupBy("block_key").agg(F.count(F.lit(1)).alias("block_n"))


def capped_blocks(blocks: DataFrame, max_block_size: int = MAX_BLOCK_SIZE) -> tuple[DataFrame, DataFrame]:
    """Split blocks into (kept, dropped_oversized_stats)."""
    sizes = block_sizes(blocks)
    kept = (
        blocks.join(sizes.filter(F.col("block_n") <= max_block_size), "block_key", "left_semi")
    )
    dropped = sizes.filter(F.col("block_n") > max_block_size).select(
        "block_key",
        "block_n",
        ((F.col("block_n") * (F.col("block_n") - 1)) / 2).cast("bigint").alias("pairs_dropped"),
    )
    return kept, dropped


def candidate_pairs(
    blocks: DataFrame,
    max_block_size: int = MAX_BLOCK_SIZE,
    persist: bool = True,
    salt_hot_blocks: bool | None = None,
) -> DataFrame:
    """(conv_a, conv_b) with conv_a < conv_b, deduped across key families,
    plus (sig_a, sig_b) when ``blocks`` carries ``sig``.

    ``blocks`` fans out into three consumers (size stats, both join sides), so
    it is persisted first — on a cluster this is the stage you'd checkpoint;
    recomputing the MinHash sketch three times is never the right plan.

    Residual skew below the cap: blocks the cap keeps can still be ~cap-sized
    (a 100-row block = a 100x100 join cell on one reducer). With
    ``salt_hot_blocks=None`` one O(1) aggregate over the (persisted) block
    sizes decides — the same runtime-stats-then-replan move AQE makes, but
    ahead of the shuffle AQE can only split after materializing. When any
    near-cap block exists, the self-join routes through ``salted_join``: the
    a-side salted by conv-id hash, the b-side replicated per salt, cold
    blocks on the plain path. The pair SET is identical either way (salting
    only re-partitions the enumeration), so every downstream oracle is
    unaffected.

    The probe is eager: ``salt_hot_blocks=None`` runs one Spark job when
    this function is called, not when the returned frame is used. On an
    un-persisted ``blocks`` that job recomputes the whole block lineage.
    ``run_linkage`` hands in a view of its already-persisted block table
    (with ``persist=False``), so the probe's job fills that one copy and
    the MinHash lineage is not recomputed for it.
    """
    if persist:
        blocks = blocks.persist(StorageLevel.MEMORY_AND_DISK)
    # ONE size aggregation feeds the cap filter, the probe and the salted
    # path's hot set — the shared subtree's shuffle exchange is reused in
    # the final plan instead of re-aggregating per consumer
    sizes = block_sizes(blocks)
    kept = blocks.join(
        sizes.filter(F.col("block_n") <= max_block_size), "block_key", "left_semi"
    )
    hot_threshold = max(2, int(max_block_size * HOT_BLOCK_FRACTION))
    hot_df = sizes.filter(
        (F.col("block_n") <= max_block_size) & (F.col("block_n") >= hot_threshold)
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
