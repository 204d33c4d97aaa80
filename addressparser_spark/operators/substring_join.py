"""Heavy-mode substring/contains join (the J2 escalation path).

Analog of the reference's heavy search mode: when the exact/light key joins
miss, it falls back to a full-text token join with a ``LIKE '%query%'``
verification (``AddressParser/Core/Db/DataContextBase_AddrObject.cs:115-141``
— ``CONTAINS(Name, @token)`` candidate fetch, then ``Name LIKE '%'+@q+'%'``
post-filter). The LSH band join covers *set-overlap* near-dups; this operator
covers *substring containment* — pairs whose texts embed one another even
when shingle bands disagree (heavy interleaving, long insertions).

Spark-first shape (no full-text index service at 100 TB, so build the
inverted index as data):

1. explode distinct token 3-gram shingles per conversation ->
   ``(key, conv_id)`` — the index unit is the shingle, not the bare token:
   selective index entries are what make an inverted index useful, and
   word-level entries stop being selective on a small vocabulary (exactly
   like the reference only benefits from CONTAINS on discriminative name
   words)
2. document-frequency cap: only keys with ``df <= RARE_DF_CAP`` join
   (a hot key's bucket would be quadratic; the cap is the block-size
   guardrail's, and the skipped-key volume is observable via
   :func:`hot_keys`)
3. self equi-join on the key = the inverted-index probe (hash-partitions
   uniformly on the key string); steps 2 and 3 are ``pairs.bucket_pairs``
4. ``contains`` post-filter: keep pairs where one side's anchor phrase
   (first ``ANCHOR_TOKENS`` tokens) appears verbatim inside the other
   side's full concatenated text — the LIKE-'%...%' verification.

Every step is Catalyst (explode / groupBy / join / contains); the quadratic
blow-up is bounded by ``RARE_DF_CAP**2`` pairs per key before dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.tokens import distinct_shingles_col, stem_tokens_col
from .pairs import bucket_pairs, over_cap, with_sides

RARE_DF_CAP = 10
ANCHOR_TOKENS = 8
INDEX_SHINGLE_K = 3


def token_index(profiles: DataFrame) -> DataFrame:
    """(conv_id, key): distinct-shingle inverted index.

    Tokens are suffix-stemmed before shingling (``stem_tokens_col``), so
    inflectional variants collide in the same index bucket — the stemming
    arm of the reference's full-text ``CONTAINS`` candidate fetch
    (``Db/DataContextBase_AddrObject.cs:115-141``). The verbatim
    ``contains`` post-filter downstream is unchanged: stemming widens the
    candidate fetch, verification stays exact (same fetch-wide/verify-exact
    split as the reference's CONTAINS -> LIKE).

    The stems are projected before the shingling references them: the
    shingle expression names its token array several times, and an inline
    stemming chain would be copied into each reference.
    """
    stems = profiles.select("conv_id", stem_tokens_col(F.col("tokens")).alias("stems"))
    return stems.select(
        "conv_id", F.explode(distinct_shingles_col(F.col("stems"), INDEX_SHINGLE_K)).alias("key")
    )


def hot_keys(profiles: DataFrame) -> DataFrame:
    """(key, df): index entries skipped by the df cap — never silent."""
    skipped = over_cap(token_index(profiles), "key", RARE_DF_CAP)
    return skipped.select("key", F.col("n").alias("df"))


def substring_pairs(profiles: DataFrame) -> DataFrame:
    """(conv_a, conv_b, a_contains_b, b_contains_a): verified containment pairs.

    ``a_contains_b`` = conv_b's anchor phrase occurs inside conv_a's full
    text (and vice versa); only pairs where at least one direction holds
    survive — exactly the reference's token-candidates-then-LIKE shape.
    """
    # the index feeds three consumers (df counts and both join sides)
    idx = token_index(profiles).persist(StorageLevel.MEMORY_AND_DISK)
    cand = bucket_pairs(
        idx.select("key", F.col("conv_id").alias("conv")), "key", "conv", RARE_DF_CAP
    )
    payload = profiles.select(
        F.col("conv_id").alias("conv"),
        F.col("concat_text").alias("text"),
        F.array_join(F.slice("tokens", 1, ANCHOR_TOKENS), " ").alias("anchor"),
    )
    j = with_sides(cand, payload, "conv").select(
        "conv_a",
        "conv_b",
        F.contains("text_a", F.col("anchor_b")).alias("a_contains_b"),
        F.contains("text_b", F.col("anchor_a")).alias("b_contains_a"),
    )
    return j.filter(F.col("a_contains_b") | F.col("b_contains_a"))
