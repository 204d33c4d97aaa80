"""Blocking: per-conversation signatures and candidate-generation keys.

Pipeline position: normalize -> **block** -> pairs -> score -> cluster.

Three complementary key families, built together (the reference likewise
probes several key forms at once — formal/official x typed/untyped 4-way
UNION, ``Db/DataContextBase_AddrObject.cs:59-77``):

1. ``sig``     — exact signature: md5 over (role '#' norm_text) per turn,
                 '|'-joined in stable ``turn_idx`` order. Catches duplicates
                 that normalization makes identical.
2. ``prefix``  — md5 over the first ``PREFIX_TURNS`` turns' norm text:
                 deterministic key for truncations/resumptions (analog of the
                 incomplete-address fallback, ``AddressSearcher.cs:103-125``).
3. ``mh<b>``   — MinHash LSH bands over distinct token 3-gram shingles:
                 probabilistic near-duplicate recall.

The only shuffle is the groupBy(conv_id) that builds the profiles. Each
distinct shingle is hashed once there, into the profile's sorted
``sh_hash`` (:func:`shingle_hashes`); scoring intersects those integers,
and the MinHash sketch derives every minhash from them. The block table is
one narrow projection of the profiles: the sketch is one JVM kernel call
per conversation (``minhash_java``, java/MinHash.java; no shingle explode,
no aggregation, no string rebuilt), and one explode over an array of
``(src, block_key)`` structs emits every key family in a single scan. Each
block row carries its conversation's ``sig`` so the heavy stage can drop
same-sig pairs without joining the profiles again. Hot blocking keys are
handled downstream by the block-size cap + AQE skew-join (see pairs.py).

Scale notes (100 TB): signatures are one map-side-combinable aggregation over
conv_id — convs are bounded (<=~10^3 turns), so collect_list per key is safe;
a distinct shingle costs one md5, and the sketch NUM_HASHES multiply-reduces
of its hash inside one task, with no row multiplication; the block table has
2 + NUM_HASHES/ROWS_PER_BAND rows per conversation, and band keys are
fixed-width md5 strings that hash-partition uniformly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data.synonyms import DEFAULT_SYNONYMS
from ..functions.normalize import normalize_col
from ..functions.tokens import distinct_shingles_col, tokens_col
from ..session import MINHASH_FUNC, kernel

NUM_HASHES = 16
ROWS_PER_BAND = 2
PREFIX_TURNS = 2
SHINGLE_K = 3
MERSENNE_61 = (1 << 61) - 1


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# (a_i, b_i) of minhash i, 1 <= a_i < p and 0 <= b_i < p: ER blocking uses
# the first NUM_HASHES, doc dedup the first DOC_NUM_HASHES, and the DuckDB
# oracle reads the same table
MINHASH_PARAMS = [
    (_md5_60(f"minhash|a|{i}") % (MERSENNE_61 - 1) + 1, _md5_60(f"minhash|b|{i}"))
    for i in range(NUM_HASHES)
]


def normalize_turns(transcripts: DataFrame) -> DataFrame:
    """Add ``norm_text`` (narrow, no shuffle)."""
    return transcripts.withColumn("norm_text", normalize_col(F.col("text")))


def conv_profiles(turns_norm: DataFrame) -> DataFrame:
    """One row per conversation: ordered-turn signature + token/shingle sets.

    Stable turn ordering is the per-row invariant axis: ``array_sort`` over
    ``struct(turn_idx, ...)`` gives a total order independent of partitioning.
    """
    turns = F.array_sort(
        F.collect_list(
            F.struct("turn_idx", "role", F.coalesce("tool", F.lit("")).alias("tool"), "norm_text")
        )
    )
    prof = turns_norm.groupBy("conv_id").agg(
        turns.alias("turns"),
        F.count(F.lit(1)).alias("n_turns"),
    )
    norm_texts = F.transform(F.col("turns"), lambda t: t["norm_text"])
    # composite signature: role + tool + normalized text per turn (the
    # north-star composite key: role x tool x content)
    sig_parts = F.transform(
        F.col("turns"),
        lambda t: F.concat(t["role"], F.lit("#"), t["tool"], F.lit("#"), t["norm_text"]),
    )
    prefix_parts = F.slice(norm_texts, 1, PREFIX_TURNS)
    # IMPORTANT evaluation-cost note: a lambda inside transform/filter that
    # references an *outer expression* re-evaluates that expression per array
    # element (Catalyst does not hoist it). Every intermediate below is
    # therefore materialized as a column attribute before a lambda uses it —
    # otherwise shingling becomes O(n_tokens^2) per conversation.
    prof = prof.select(
        "conv_id",
        "n_turns",
        F.md5(F.array_join(sig_parts, "|")).alias("sig"),
        F.md5(F.array_join(prefix_parts, "|")).alias("prefix_key"),
        F.array_join(norm_texts, " ").alias("concat_text"),
        F.transform(F.col("turns"), lambda t: t["role"]).alias("role_seq"),
    )
    prof = prof.withColumn("tokens", tokens_col(F.col("concat_text")))
    # the shingles as their hashes, the one form every consumer reads: the
    # scoring join carries them instead of the string set (~8x smaller
    # shuffle payload, integer intersects; Jaccard and containment are
    # hash-invariant), and the MinHash sketch derives its minhashes from
    # them. The string set is not kept in the profile: it would nearly
    # double the cached row (it is the text re-materialized), and no
    # consumer reads it.
    prof = prof.withColumn(
        "sh_hash", shingle_hashes(distinct_shingles_col(F.col("tokens"), SHINGLE_K))
    )
    return prof.select(
        "conv_id", "n_turns", "sig", "prefix_key", "concat_text",
        "tokens", "sh_hash", "role_seq",
    )


def shingle_hashes(shingles: Column) -> Column:
    """The one hash of a shingle: a distinct-string array as the sorted
    60-bit md5 prefixes of its elements (the DuckDB twin is
    ``oracle.minhash_cte``). Sorted ascending for the merge-walk
    intersect kernel (java/IntersectCount.java); below 2^60, as the MinHash
    kernel requires."""
    return F.array_sort(
        F.transform(shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"))
    )


def minhash_col(spark: SparkSession, hashes: Column, num_hashes: int) -> Column:
    """MinHash sketch of a :func:`shingle_hashes` array: element i is the
    min of ``(a_i * x + b_i) mod (2^61 - 1)`` over its hashes x, with the
    first ``num_hashes`` pairs of ``MINHASH_PARAMS``. NULL for a null or
    empty array, i.e. when there is no sketch.
    """
    a, b = zip(*MINHASH_PARAMS[:num_hashes])
    return kernel(
        spark, MINHASH_FUNC, hashes,
        F.lit(list(a)).cast("array<bigint>"), F.lit(list(b)).cast("array<bigint>"),
    )


def _profile_sketch(profiles: DataFrame) -> Column:
    return minhash_col(profiles.sparkSession, F.col("sh_hash"), NUM_HASHES).alias("mh")


def band_key(b: int, hashes: list[Column]) -> Column:
    """LSH band key = md5('<b>|' || the band's minhashes, '|'-joined):
    collision iff the band's minhashes all agree."""
    return F.md5(F.concat_ws("|", F.lit(str(b)), *(h.cast("string") for h in hashes)))


def band_keys(mh: Column) -> list[Column]:
    """One ``struct(src 'mh<b>', block_key)`` per LSH band of the sketch
    ``mh``; NULL when there is no sketch, so the band rows drop out."""
    return [
        F.when(
            mh.isNotNull(),
            F.struct(
                F.lit(f"mh{b}").alias("src"),
                band_key(b, [mh[i] for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)])
                .alias("block_key"),
            ),
        )
        for b in range(NUM_HASHES // ROWS_PER_BAND)
    ]


def _key_rows(keyed: DataFrame, keys: list[Column], *carry: str) -> DataFrame:
    """(conv_id, src, block_key, *carry): one row per non-null key struct."""
    return keyed.select(
        "conv_id", *carry, F.explode(F.array_compact(F.array(*keys))).alias("k")
    ).select("conv_id", "k.src", "k.block_key", *carry)


def minhash_bands(profiles: DataFrame) -> DataFrame:
    """Long-format LSH band keys: (conv_id, src 'mh<b>', block_key)."""
    keyed = profiles.select("conv_id", _profile_sketch(profiles))
    return _key_rows(keyed, band_keys(F.col("mh")))


def canonical_tokens_col(tokens: Column) -> Column:
    """Fold each token to its canonical form via ``DEFAULT_SYNONYMS``.

    The dictionary is applied as a Catalyst ``map`` literal (no shuffle, no
    Python): synonym tables are dimension-sized, the classic broadcast-dim
    shape. Mirrors ``PushCrutch`` (``Parser.cs:367-520``) — variant terms
    collapse to one spelling before key generation.
    """
    m = F.create_map(*[F.lit(x) for kv in sorted(DEFAULT_SYNONYMS.items()) for x in kv])
    return F.transform(tokens, lambda t: F.coalesce(m[t], t))


def synonym_key_col(tokens: Column) -> Column:
    """md5 of the synonym-canonical token sequence: the 'syn' block key and
    the resolver's ``syn_key``."""
    return F.md5(F.array_join(canonical_tokens_col(tokens), " "))


def synonym_blocks(profiles: DataFrame) -> DataFrame:
    """(conv_id, src='syn', block_key): synonym-canonical signature keys.

    Two conversations whose texts differ only by dictionary variants get the
    SAME key (metamorphic property tested in tests/test_synonyms.py) — the
    recall mechanism the sig/prefix/minhash families can't provide when a
    variant changes many shingles at once. The linkage plan does not block
    on it (its oracle stays byte-stable); the resolver's weakest stage keys
    on it.
    """
    return profiles.select(
        "conv_id",
        F.lit("syn").alias("src"),
        synonym_key_col(F.col("tokens")).alias("block_key"),
    )


def block_table(profiles: DataFrame) -> DataFrame:
    """All blocking keys: (conv_id, src, block_key, sig).

    One select of the profiles computes the sketch, and one explode emits
    the sig, prefix and band keys; a conversation without a sketch gets no
    band rows. ``sig`` is the row's conversation signature, carried so the
    pair self-join can compare it without another profile join.
    """
    keyed = profiles.select(
        "conv_id", "sig", "prefix_key", _profile_sketch(profiles)
    )
    keys = [
        F.struct(F.lit("sig").alias("src"), F.col("sig").alias("block_key")),
        F.struct(F.lit("prefix").alias("src"), F.col("prefix_key").alias("block_key")),
        *band_keys(F.col("mh")),
    ]
    return _key_rows(keyed, keys, "sig")
