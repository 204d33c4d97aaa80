"""Document-level deduplication family (training-data pipeline ops).

The same normalize->key->pair->score machinery as conversation linkage,
instantiated on a flat ``documents(doc_id, text, ...)`` table — the four
standard large-corpus dedup strategies:

- exact:        md5 of normalized text, group, min-id representative
- MinHash+LSH:  token-shingle MinHash, banded keys, in-bucket pairs, Jaccard
- SimHash:      per-position majority sketch over token md5s, banded buckets,
                Hamming distance
- n-gram Jaccard: character n-gram sets on LSH candidates

Everything is Catalyst expressions (md5 / array ops / windows) except two
JVM kernels shared with conversation linkage: the MinHash sketch, one call
per document (``blocking.minhash_col``, java/MinHash.java: no shingle
explode and no shuffle), and both Jaccards' intersection count, one
merge walk per pair over sorted hashes (``intersect_count_java``). A
document's shingles and character n-grams are hashed once each, by
``blocking.shingle_hashes``: the sketch and the Jaccard read the same
integers. Each
operator has an exact DuckDB oracle in ``oracle_docs.py``. At 100 TB the
shapes hold: the MinHash sketch is narrow, SimHash is one groupBy,
candidates are one exploded band join, and the bucket cap
(``pairs.bucket_pairs``) comes before the quadratic step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.normalize import normalize_col
from ..functions.tokens import distinct_shingles_col, tokens_col
from ..session import INTERSECT_FUNC, kernel
from .blocking import band_key, minhash_col, shingle_hashes
from .pairs import bucket_pairs, over_cap, with_sides
from .scoring import jaccard_col

DOC_NUM_HASHES = 12
DOC_ROWS_PER_BAND = 2
DOC_SHINGLE_K = 3
DOC_JACCARD_DUP = 0.8
SIMHASH_BITS = 32  # one bit per md5 hex position: nibble high-bit
SIMHASH_BAND_CHARS = 8
HAMMING_DUP = 3
CHAR_NGRAM = 5
MAX_BUCKET = 50


def normalized_docs(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", normalize_col(F.col("text")).alias("norm_text")
    )


def doc_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, h): each document's distinct token shingles as their
    sorted hashes."""
    # tokens materialized as a column before the shingle lambda references it
    # (outer expressions inside higher-order lambdas re-evaluate per element)
    n = normalized_docs(docs).withColumn("toks", tokens_col(F.col("norm_text")))
    return n.select(
        "doc_id", shingle_hashes(distinct_shingles_col(F.col("toks"), DOC_SHINGLE_K)).alias("h")
    )


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, content_key, dup_group, group_n): hash-groupBy dedup.

    ``dup_group`` = min doc_id sharing the normalized-content hash — one
    shuffle on a uniform md5 key; at any scale this is the cheapest pass and
    runs first (mirrors the reference's exact-match "light mode" before the
    expensive search, ``Db/DataContextBase_AddrObject.cs:52-95``).
    """
    n = normalized_docs(docs).withColumn("content_key", F.md5("norm_text"))
    w = Window.partitionBy("content_key")
    return n.select(
        "doc_id",
        "content_key",
        F.min("doc_id").over(w).alias("dup_group"),
        F.count(F.lit(1)).over(w).alias("group_n"),
    )


# ---------------------------------------------------------------------------
# 2. MinHash + LSH
# ---------------------------------------------------------------------------


def doc_minhash(docs: DataFrame) -> DataFrame:
    """(doc_id, mh_00..mh_NN): the first ``DOC_NUM_HASHES`` minhashes of
    ``blocking.minhash_col`` over each document's shingle hashes.

    ``doc_id`` is the documents' key. A document without shingles (null
    text) has no sketch and so no row: the kernel returns NULL for it, and
    the explode of the compacted one-element array emits nothing. Text
    with no tokens has the one shingle ``''``, and so a sketch.
    """
    sets = doc_shingle_sets(docs)
    mh = minhash_col(sets.sparkSession, F.col("h"), DOC_NUM_HASHES)
    sk = sets.select("doc_id", F.explode(F.array_compact(F.array(mh))).alias("mh"))
    return sk.select(
        "doc_id", *[F.col("mh")[i].alias(f"mh_{i:02d}") for i in range(DOC_NUM_HASHES)]
    )


def doc_band_keys(minhash: DataFrame) -> DataFrame:
    r = DOC_ROWS_PER_BAND
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                band_key(
                    b,
                    [F.col(f"mh_{i:02d}") for i in range(b * r, (b + 1) * r)],
                ).alias("bucket"),
            )
            for b in range(DOC_NUM_HASHES // r)
        ]
    )
    return minhash.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )


def _candidates(buckets: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b): the in-bucket pairs of ``(doc_id, bucket)``
    rows under the ``MAX_BUCKET`` cap (cap + never silent: the dropped side
    is :func:`dropped_buckets`). The buckets feed three consumers (sizes and
    both join sides), so they are persisted instead of re-sketched."""
    buckets = buckets.persist(StorageLevel.MEMORY_AND_DISK)
    return bucket_pairs(buckets.select("bucket", "doc_id"), "bucket", "doc_id", MAX_BUCKET)


def _jaccard_pairs(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b, jaccard) of each candidate pair over ``sets``
    rows ``(doc_id, h)``: one ``intersect_count_java`` call per pair, the
    kernel pairwise ER scoring uses."""
    j = with_sides(cand, sets, "doc_id").select(
        "doc_id_a",
        "doc_id_b",
        F.size("h_a").alias("na"),
        F.size("h_b").alias("nb"),
        kernel(cand.sparkSession, INTERSECT_FUNC, F.col("h_a"), F.col("h_b")).alias("inter"),
    )
    return j.select(
        "doc_id_a", "doc_id_b", jaccard_col(F.col("inter"), F.col("na"), F.col("nb")).alias("jaccard")
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b, jaccard, is_dup): LSH candidates + exact Jaccard."""
    j = _jaccard_pairs(_candidates(doc_band_keys(doc_minhash(docs))), doc_shingle_sets(docs))
    return j.select(
        "doc_id_a", "doc_id_b", "jaccard", (F.col("jaccard") >= DOC_JACCARD_DUP).alias("is_dup")
    )


# ---------------------------------------------------------------------------
# 3. SimHash
# ---------------------------------------------------------------------------


def doc_simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-char bit-string sketch.

    Bit i = majority over tokens of (high bit of md5 hex nibble i) — i.e. a
    random-hyperplane sketch whose projections come from the token md5. Uses
    only substring/compare, so the DuckDB oracle reproduces it exactly.
    """
    toks = normalized_docs(docs).select(
        "doc_id", F.explode(tokens_col(F.col("norm_text"))).alias("tok")
    ).withColumn("h", F.md5("tok"))
    aggs = [
        F.sum(
            F.when(F.substring("h", i + 1, 1) >= "8", 1).otherwise(-1)
        ).alias(f"b{i:02d}")
        for i in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*aggs)
    bits = F.concat(
        *[F.when(F.col(f"b{i:02d}") > 0, "1").otherwise("0") for i in range(SIMHASH_BITS)]
    )
    return agg.select("doc_id", bits.alias("simhash"))


def simhash_buckets(simhash: DataFrame) -> DataFrame:
    """(doc_id, bucket): the 4 banded simhash bucket keys per doc."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(F.lit(f"{b}|"), F.substring("simhash", b * SIMHASH_BAND_CHARS + 1, SIMHASH_BAND_CHARS)).alias("bucket"),
            )
            for b in range(SIMHASH_BITS // SIMHASH_BAND_CHARS)
        ]
    )
    return simhash.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.bucket").alias("bucket")
    )


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b, hamming, is_dup): banded simhash buckets -> pairs.

    Bucket key = one of the 4 8-char simhash bands; two sketches within
    Hamming distance <= 3 share at least one intact band (pigeonhole).
    """
    sh = doc_simhash(docs)
    cand = _candidates(simhash_buckets(sh))
    j = with_sides(cand, sh, "doc_id")
    # Hamming over the 0/1 strings: count positions where chars differ
    ham = F.size(
        F.filter(
            F.zip_with(F.split("simhash_a", ""), F.split("simhash_b", ""), lambda x, y: x != y),
            lambda d: d,
        )
    )
    return j.select(
        "doc_id_a",
        "doc_id_b",
        ham.alias("hamming"),
        (ham <= HAMMING_DUP).alias("is_dup"),
    )


def dropped_buckets(docs: DataFrame) -> DataFrame:
    """(family, bucket, bucket_n, pairs_dropped): the buckets of both sketch
    families over the ``MAX_BUCKET`` cap.

    The 'cap + never silent' guardrail for the doc-dedup family — same
    contract as ``pairs.dropped_blocks`` for conversation blocking: recall
    lost to hot buckets is a *metric*, not an invisible behavior. Exposed
    as the ``dedup_dropped_buckets`` query.
    """

    def capped(family: str, buckets: DataFrame) -> DataFrame:
        return over_cap(buckets, "bucket", MAX_BUCKET).select(
            F.lit(family).alias("family"), "bucket", F.col("n").alias("bucket_n"), "pairs_dropped"
        )

    return capped("minhash_lsh", doc_band_keys(doc_minhash(docs))).unionByName(
        capped("simhash", simhash_buckets(doc_simhash(docs)))
    )


# ---------------------------------------------------------------------------
# 4. character n-gram Jaccard on LSH candidates
# ---------------------------------------------------------------------------


def char_ngrams_col(text: Column) -> Column:
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - CHAR_NGRAM + 1, F.lit(1))),
        lambda i: text.substr(i, F.lit(CHAR_NGRAM)),
    )
    return F.array_distinct(grams)


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b, ngram_jaccard): char-n-gram sets on LSH candidates."""
    nd = (
        normalized_docs(docs)
        .withColumn("g0", char_ngrams_col(F.col("norm_text")))
        .select("doc_id", shingle_hashes(F.col("g0")).alias("h"))
    )
    j = _jaccard_pairs(_candidates(doc_band_keys(doc_minhash(docs))), nd)
    return j.withColumnRenamed("jaccard", "ngram_jaccard")
