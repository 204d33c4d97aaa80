"""Named engine queries for the driver contract (``__spark_entry__.py``).

Each function takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names/types match the DuckDB oracle in ``oracle.py`` exactly
(the driver hash-compares values after sorting by column name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .data.transcripts import transcripts_df
from .operators import blocking, pairs as pairs_op, scoring
from .plans.pipeline import funnel_clusters_from, heavy_pairs, sig_representatives


def _profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cached: profiles feed 2+ consumers in every downstream query
    return blocking.conv_profiles(
        blocking.normalize_turns(transcripts_df(spark, sf_dir))
    ).cache()


def _blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted full block table (sig + prefix + MinHash band keys).

    Same plan-identity caching trick as ``_profiles``: every query that
    rebuilds this exact plan hits one shared cache entry, so the MinHash
    sketch — the most expensive blocking step — runs once per session/sf,
    not once per query. Its rows carry ``sig`` too; queries
    that output it select the oracle's columns.
    """
    from pyspark.storagelevel import StorageLevel

    return blocking.block_table(_profiles(spark, sf_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    )


def er_normalize_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = blocking.normalize_turns(transcripts_df(spark, sf_dir))
    return t.select("conv_id", "turn_idx", "role", "norm_text")


def er_conv_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _profiles(spark, sf_dir).select("conv_id", "n_turns", "sig", "prefix_key")


def er_exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sig_representatives(_profiles(spark, sf_dir)).withColumnRenamed("rep", "cluster_id")


def er_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return blocking.minhash_bands(_profiles(spark, sf_dir))


def er_block_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _blocks(spark, sf_dir).select("conv_id", "src", "block_key")


def er_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pairs_op.candidate_pairs(_blocks(spark, sf_dir)).select(
        "conv_a", "conv_b"
    )


def er_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _profiles(spark, sf_dir)
    cand = pairs_op.candidate_pairs(_blocks(spark, sf_dir))
    return scoring.score_pairs(cand, p)


def _funnel_clusters(p: DataFrame, blocks: DataFrame) -> DataFrame:
    """Light->heavy funnel clustering (oracle-equivalent to scoring all pairs;
    the parity gate proves it against the flat-SQL closure). Same-sig stars
    are contracted out of the CC loop entirely (see ``funnel_clusters_from``)."""
    cand = heavy_pairs(blocks)
    scored = scoring.score_pairs(cand, p)
    return funnel_clusters_from(p, scoring.matched_edges(scored))


def er_linkage_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _funnel_clusters(_profiles(spark, sf_dir), _blocks(spark, sf_dir))


# ---------------------------------------------------------------------------
# documents / embeddings operator family (training-data pipeline)
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.tables import read_parallel

    return read_parallel(spark, f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.tables import read_parallel

    return read_parallel(spark, f"{sf_dir}/embeddings.parquet")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir))


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import text_quality as tq

    return tq(_docs(spark, sf_dir))


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import text_repetition as tr

    return tr(_docs(spark, sf_dir))


def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import text_scrub as ts

    return ts(_docs(spark, sf_dir))


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real container decode over the six-format synthetic media table.

    ``data.media.synth_media`` builds one PNG/JPEG/GIF/WAV/FLAC/MP4 payload
    per doc_id, every parameter a closed-form function of the id.
    ``decode_media`` then parses every container's header and decodes all
    six contents: PNG pixels (IDAT inflate + the five unfilters), JPEG
    DC-only blocks (Huffman entropy decode), GIF pixels (LZW), WAV PCM,
    FLAC verbatim-frame samples and MP4 raw-PCM audio tracks (even mp4 ids
    are video: dims, NULL stats). The DuckDB oracle re-derives every
    expected feature from doc_id arithmetic alone, so a green row proves
    the whole mapInPandas decode path byte-for-byte.
    n_bytes/feature_hash are excluded: they depend on zlib's compressed
    encoding, which no independent oracle can re-derive.
    """
    from .data.media import synth_media
    from .operators.multimodal import decode_media

    return decode_media(synth_media(_docs(spark, sf_dir))).select(
        "media_id",
        "kind",
        "width",
        "height",
        "duration_ms",
        "mean_luma",
        "max_luma",
        "nonzero_frac",
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import text_langid as tl

    return tl(_docs(spark, sf_dir))


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import token_counts

    return token_counts(_docs(spark, sf_dir))


def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import doc_fingerprints

    return doc_fingerprints(_docs(spark, sf_dir))


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import cosine_topk

    return cosine_topk(_embeddings(spark, sf_dir))


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth dedup family: embedding-cosine near-dups via LSH buckets."""
    from .operators.ann import EMB_DIM, embedding_dup_pairs

    return embedding_dup_pairs(_embeddings(spark, sf_dir), dim=EMB_DIM)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import EMB_DIM, lsh_topk

    return lsh_topk(_embeddings(spark, sf_dir), dim=EMB_DIM)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second ANN scale path: inverted-file (centroid-partitioned) top-k."""
    from .operators.ann import ivf_topk

    return ivf_topk(_embeddings(spark, sf_dir))


# ---------------------------------------------------------------------------
# resolve + evaluation
# ---------------------------------------------------------------------------

def er_resolve_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resolver over an empty registry: every cluster mints its id."""
    from .operators.resolve import resolve_cascade
    from .sources.registry_writer import read_registry

    p = _profiles(spark, sf_dir)
    clusters = _funnel_clusters(p, _blocks(spark, sf_dir))
    return resolve_cascade(clusters, p, read_registry(spark, [])).select(
        "conv_id", "cluster_id", "entity_id"
    )


def er_eval_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .data.transcripts import truth_df
    from .plans.evaluate import labeled_pairs, pairwise_f1

    p = _profiles(spark, sf_dir)
    clusters = _funnel_clusters(p, _blocks(spark, sf_dir))
    # labels stay defined over the FULL candidate-pair set (F1 "at the same
    # blocking key"), independent of the funnel shortcut
    cand = pairs_op.candidate_pairs(_blocks(spark, sf_dir))
    labels = labeled_pairs(cand, truth_df(spark, sf_dir))
    return pairwise_f1(clusters, labels)


def er_substring_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 heavy mode: token inverted-index join + contains post-filter."""
    from .operators.substring_join import substring_pairs

    return substring_pairs(_profiles(spark, sf_dir))


def er_hot_index_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index entries the df cap skipped (never silent)."""
    from .operators.substring_join import hot_keys

    return hot_keys(_profiles(spark, sf_dir))


def er_synonym_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: synonym-canonical blocking keys from the broadcast dictionary."""
    return blocking.synonym_blocks(_profiles(spark, sf_dir))


def er_choose_candidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 proper: multi-feature ranking cascade — one composed row_number."""
    p = _profiles(spark, sf_dir)
    cand = pairs_op.candidate_pairs(_blocks(spark, sf_dir))
    scored = scoring.score_pairs(cand, p)
    return scoring.choose_candidate(scored, p)


def text_extract_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 proper: right-to-left typed peel-off with mutation."""
    from .operators.text_analysis import extract_iterative

    return extract_iterative(_docs(spark, sf_dir))


def dedup_dropped_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dropped-bucket accounting for both doc-dedup sketch families."""
    from .operators.dedup import dropped_buckets

    return dropped_buckets(_docs(spark, sf_dir))


def er_type_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5/B6: broadcast type-dictionary join -> (name key, typed set) split."""
    from .operators.types import type_split

    return type_split(_profiles(spark, sf_dir))


def er_requalified_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: qualifier-position-canonical blocking keys."""
    from .operators.types import requalified_key

    return requalified_key(_profiles(spark, sf_dir))


def er_parse_udtf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TVF surface (S1 analog): serialize conversations, re-parse via UDTF."""
    from .operators.parse_udtf import parse_transcripts, serialize_convs

    t = transcripts_df(spark, sf_dir)
    return parse_transcripts(spark, serialize_convs(t))


def er_dropped_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-size-cap accounting (never silent): oversized blocks + dropped pairs."""
    return pairs_op.dropped_blocks(_blocks(spark, sf_dir))


def er_resolve_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/G3 proper: multi-stage resolve against a partially-known registry.

    The registry is a deterministic derivation of the data
    (``data.transcripts.demo_registry``)
    so every cascade stage — sig hit, prefix fallback, synonym fallback, new
    id — fires on real rows and the driver's value hash proves stage
    assignment, not just row counts.
    """
    from .data.transcripts import demo_registry
    from .operators.resolve import RESOLVED_COLUMNS, resolve_cascade

    p = _profiles(spark, sf_dir)
    clusters = sig_representatives(p).withColumnRenamed("rep", "cluster_id")
    return resolve_cascade(clusters, p, demo_registry(p)).select(*RESOLVED_COLUMNS)


def ops_cap_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified never-silent cap accounting: one row per dropped/skipped key
    across all four capped quadratic surfaces (ER block cap, doc-sketch
    bucket caps, substring df cap, embedding-LSH bucket cap)."""
    from .operators.ann import EMB_DIM, embedding_dropped_buckets
    from .operators.dedup import dropped_buckets
    from .operators.substring_join import RARE_DF_CAP, token_index

    a = pairs_op.dropped_blocks(_blocks(spark, sf_dir)).select(
        F.lit("block_cap").alias("family"),
        F.col("block_key").alias("key"),
        F.col("block_n").alias("group_n"),
        "pairs_dropped",
    )
    b = dropped_buckets(_docs(spark, sf_dir)).select(
        "family",
        F.col("bucket").alias("key"),
        F.col("bucket_n").alias("group_n"),
        "pairs_dropped",
    )
    c = pairs_op.over_cap(token_index(_profiles(spark, sf_dir)), "key", RARE_DF_CAP).select(
        F.lit("substring_df").alias("family"),
        "key",
        F.col("n").alias("group_n"),
        "pairs_dropped",
    )
    d = embedding_dropped_buckets(_embeddings(spark, sf_dir), dim=EMB_DIM).select(
        F.lit("embedding_lsh").alias("family"),
        F.col("bucket").alias("key"),
        F.col("bucket_n").alias("group_n"),
        "pairs_dropped",
    )
    return a.unionByName(b).unionByName(c).unionByName(d)


def er_cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Display-string builder (AddressStringBuilder analog): one row per
    cluster with sorted member list and size."""
    p = _profiles(spark, sf_dir)
    clusters = _funnel_clusters(p, _blocks(spark, sf_dir))
    return clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.array_join(F.array_sort(F.collect_list("conv_id")), ", ").alias("members"),
    )
