"""Capped-bucket pair generation: the one quadratic step of every family.

A bucket of n rows yields n(n-1)/2 pairs, so a hot key is the scale risk.
Mirroring the reference's candidate-set guardrail (short-circuit at 100
candidates, ``AddressSearcher.cs:69``), a key with more than ``cap`` rows is
DROPPED from pair generation and **counted** by :func:`over_cap` — never
silently. The cap is the per-key bound: no kept key yields more than
cap(cap-1)/2 pairs, so a near-cap key is one bounded join cell, and skew
below the cap is left to AQE's skew-join splitting (enabled in session.py).

Every family binds the same two operators with its own key, id and cap:

- ER blocking: ``block_key``, ``conv_id``, ``MAX_BLOCK_SIZE``
  (:func:`candidate_pairs`, :func:`dropped_blocks`);
- doc MinHash and SimHash buckets: ``dedup.MAX_BUCKET``;
- embedding sign-LSH buckets: ``ann.EMB_MAX_BUCKET``;
- the substring inverted index: ``substring_join.RARE_DF_CAP``.

The pair join is a self equi-join on the key; ``id_a < id_b`` canonicalizes
orientation and ``distinct`` merges pairs found under several keys (a pair
found by both ``sig`` and an LSH band scores once).

The step after it is one operator too: :func:`with_sides` joins a family's
per-id payload (ER's hashed shingles and text, a document's hashed set or
simhash, a vector's embedding, the ground-truth or predicted cluster) onto
both sides of its pairs, as ``<col>_a``/``<col>_b``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_BLOCK_SIZE = 100


def _sizes(rows: DataFrame, key: str) -> DataFrame:
    return rows.groupBy(key).agg(F.count(F.lit(1)).alias("n"))


def over_cap(rows: DataFrame, key: str, cap: int) -> DataFrame:
    """(key, n, pairs_dropped): the keys of ``rows`` with more than ``cap``
    rows, and the n(n-1)/2 pairs the cap kept each from generating."""
    n = F.col("n")
    return _sizes(rows, key).filter(n > cap).select(
        key, "n", (n * (n - 1) / 2).cast("bigint").alias("pairs_dropped")
    )


def bucket_pairs(rows: DataFrame, key: str, id: str, cap: int) -> DataFrame:
    """(id_a, id_b, *attr_a/attr_b) from rows of ``(key, id, *attrs)``:
    every pair of ids that share a key with at most ``cap`` rows, once,
    with ``id_a < id_b``.

    Each attr must be a function of the id (ER's ``sig``); it is carried to
    both sides as ``<attr>_a``/``<attr>_b``, so deduping on every column is
    deduping on the pair. ``rows`` feeds three consumers (the key sizes and
    both join sides), so a caller whose rows are costly persists them first.
    """
    attrs = [c for c in rows.columns if c not in (key, id)]
    kept = rows.join(_sizes(rows, key).filter(F.col("n") <= cap), key, "left_semi")

    def side(s: str) -> DataFrame:
        return kept.select(key, *[F.col(c).alias(f"{c}_{s}") for c in (id, *attrs)])

    return (
        side("a").join(side("b"), key)
        .filter(F.col(f"{id}_a") < F.col(f"{id}_b"))
        .select(*[f"{c}_{s}" for c in (id, *attrs) for s in "ab"])
        .distinct()
    )


def with_sides(pairs: DataFrame, rows: DataFrame, id: str) -> DataFrame:
    """``pairs`` with ``rows`` joined onto both of their sides: every column
    of ``pairs``, then each payload column ``c`` of ``rows`` as ``c_a`` and
    ``c_b``.

    ``rows`` is keyed by ``id`` and the pairs carry ``<id>_a``/``<id>_b``;
    a pair whose side has no row drops (inner joins), and a pair column
    named like a payload column out (ER's carried ``sig_a``) gives way to
    it. Both sides are aliases of the one ``rows`` frame, so a join hint on
    ``rows`` (``broadcast``, ``shuffle_hash``) holds for both joins.
    """
    sides = [(c, s) for c in rows.columns if c != id for s in "ab"]
    kept = [c for c in pairs.columns if c not in {f"{c}_{s}" for c, s in sides}]
    p, a, b = pairs.alias("_p"), rows.alias("_a"), rows.alias("_b")
    return (
        p.join(a, F.col(f"_p.{id}_a") == F.col(f"_a.{id}"))
        .join(b, F.col(f"_p.{id}_b") == F.col(f"_b.{id}"))
        .select(
            *[F.col(f"_p.{c}") for c in kept],
            *[F.col(f"_{s}.{c}").alias(f"{c}_{s}") for c, s in sides],
        )
    )


def dropped_blocks(blocks: DataFrame) -> DataFrame:
    """(block_key, block_n, pairs_dropped): the blocks over the size cap."""
    return over_cap(blocks, "block_key", MAX_BLOCK_SIZE).withColumnRenamed("n", "block_n")


def candidate_pairs(blocks: DataFrame) -> DataFrame:
    """(conv_a, conv_b) with conv_a < conv_b, deduped across key families,
    plus (sig_a, sig_b) when ``blocks`` carries ``sig``: the ER binding of
    :func:`bucket_pairs`, capped at ``MAX_BLOCK_SIZE`` rows per block.

    ``blocks`` fans out into three consumers (block sizes, both join sides),
    so the caller persists it first (``run_linkage`` and ``queries._blocks``
    do): recomputing the MinHash sketch three times is never the right plan.
    """
    carry = ["sig"] if "sig" in blocks.columns else []
    rows = blocks.select("block_key", F.col("conv_id").alias("conv"), *carry)
    return bucket_pairs(rows, "block_key", "conv", MAX_BLOCK_SIZE)
