"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  dot product is a Catalyst ``zip_with``+``aggregate`` fold over double-cast
  arrays (JVM, codegen'd; left-to-right fold order is deterministic and
  reproducible in the DuckDB oracle's list functions).
- ``lsh_topk``: the scale path — random-hyperplane (sign) LSH buckets from
  md5-derived ±1 hyperplanes, candidate generation within buckets, exact
  re-rank inside. At 10^9 vectors the bucket join replaces the full cross
  product; the hyperplanes are data-independent and engine-reproducible.
- ``ivf_topk``: the inverted-file scale path — probe only the lists of the
  nearest centroids.

The three top-k paths differ only in their candidates; each ends in the
one exact re-rank, ``_rerank``. The probe set, ``k`` and the IVF shape are
module constants (``N_QUERIES``, ``TOP_K``, ``IVF_CENTROIDS``,
``IVF_PROBES``) read at call time, as in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .pairs import bucket_pairs, over_cap, with_sides

TOP_K = 5
N_QUERIES = 10
LSH_TABLES = 8
LSH_BITS_PER_TABLE = 4
# embedding dimensionality of the engine's test corpus. ONE constant shared
# by the Spark queries and the DuckDB oracle wiring (so they cannot diverge);
# callers with a different corpus pass dim explicitly. Kept as config, not
# inferred with .first(): arrays carry no dim in the schema and a driver
# action before the plan (or a crash on an empty table) is worse than a
# parameter.
EMB_DIM = 64


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_col(a: Column, b: Column) -> Column:
    d = _norm(a) * _norm(b)
    return F.when(d == 0, F.lit(0.0)).otherwise(_dot(a, b) / d)


def _as_double(df: DataFrame) -> DataFrame:
    return df.withColumn("embedding", F.col("embedding").cast("array<double>"))


def _probes(e: DataFrame) -> DataFrame:
    """(query_id, q_emb): the probe set, vec_id < ``N_QUERIES``
    (deterministic)."""
    return e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )


def _rerank(cand: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): the ``TOP_K`` candidates
    ``(query_id, q_emb, vec_id, embedding)`` of each probe by exact cosine
    against its ``q_emb`` — the re-rank every top-k path ends in.

    Ties break by neighbor_id, so ranks are total-order deterministic.
    """
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_col(F.col("q_emb"), F.col("embedding")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _neighbors(e: DataFrame, probes: DataFrame, key: str) -> DataFrame:
    """The corpus rows ``e`` joined to each broadcast probe row
    ``(query_id, key, ...)`` that shares their ``key``, the query itself
    left out."""
    return e.join(F.broadcast(probes), key).filter(F.col("vec_id") != F.col("query_id"))


def cosine_topk(embeddings: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): exact top-k for the probe set.

    Every other vector is a candidate of every probe: the probe side is
    tiny and broadcast, the corpus side streams past it — at 10^9 vectors
    this is one scan.
    """
    e = _as_double(embeddings).select("vec_id", "embedding")
    return _rerank(e.join(F.broadcast(_probes(e)), F.col("vec_id") != F.col("query_id")))


def _hyperplane_values(plane: int, dim: int) -> list[float]:
    """±1 hyperplane from md5(plane|d) — computed ONCE driver-side.

    Same rule the DuckDB oracle derives in SQL (first hex char of
    md5('<plane>|<d>') >= '8' -> +1), so results are unchanged; but baking
    the planes into literal arrays removes the per-row md5 storm the r01
    plan had (~n_tables*bits*dim ≈ 2048 md5 calls PER ROW — a scale-killer
    at 10^9 vectors). Hyperplanes are data-independent constants; constants
    belong in the plan, not the row loop.
    """
    import hashlib

    return [
        1.0 if hashlib.md5(f"{plane}|{d}".encode()).hexdigest()[0] >= "8" else -1.0
        for d in range(dim)
    ]


def _hyperplane_sign(emb: Column, plane: int, dim: int) -> Column:
    """Sign bit of <v, h_plane> with the plane embedded as a literal array."""
    h = F.array(*[F.lit(v) for v in _hyperplane_values(plane, dim)])
    proj = F.aggregate(
        F.zip_with(emb, h, lambda x, hv: x * hv),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(proj >= 0, "1").otherwise("0")


def lsh_buckets_col(emb: Column, dim: int) -> Column:
    """Array of per-table bucket keys: 't<i>|' + sign bits of that table's planes.

    Multi-table LSH: one selective signature has near-zero recall on weakly
    correlated vectors; L independent shorter signatures trade candidate count
    for recall (match in >=1 table). Plane (t, j) uses global index
    t*LSH_BITS_PER_TABLE + j so tables are independent.
    """
    keys = []
    for t in range(LSH_TABLES):
        bits = F.concat(
            *[
                _hyperplane_sign(emb, t * LSH_BITS_PER_TABLE + j, dim)
                for j in range(LSH_BITS_PER_TABLE)
            ]
        )
        keys.append(F.concat(F.lit(f"t{t}|"), bits))
    return F.array(*keys)


def _lsh_rows(embeddings: DataFrame, dim: int) -> DataFrame:
    """(vec_id, embedding, bucket): one row per vector and LSH table."""
    return _as_double(embeddings).select(
        "vec_id",
        "embedding",
        F.explode(lsh_buckets_col(F.col("embedding"), dim)).alias("bucket"),
    )


EMB_COSINE_DUP = 0.9
EMB_MAX_BUCKET = 200


def embedding_dup_pairs(embeddings: DataFrame, dim: int) -> DataFrame:
    """(vec_id_a, vec_id_b, cosine, is_dup): embedding-cosine near-dup dedup.

    The fifth dedup family (exact / MinHash / SimHash / n-gram Jaccard /
    embedding cosine): ALL-PAIRS near-duplicates, not a per-query top-k —
    candidates come from the multi-table sign-LSH buckets (same precomputed
    literal hyperplanes as :func:`lsh_topk`), buckets over
    ``EMB_MAX_BUCKET`` vectors are capped (cap + never silent:
    :func:`embedding_dropped_buckets`), and the exact cosine re-rank inside
    buckets decides ``is_dup``. At 10^9 vectors the bucket self-join
    (``pairs.bucket_pairs``) is the only quadratic step and it is bounded by
    ``EMB_MAX_BUCKET**2`` per bucket.
    """
    # the bucket rows feed three consumers (sizes and both join sides)
    e = _lsh_rows(embeddings, dim).persist(StorageLevel.MEMORY_AND_DISK)
    cand = bucket_pairs(e.select("bucket", "vec_id"), "bucket", "vec_id", EMB_MAX_BUCKET)
    emb = _as_double(embeddings).select("vec_id", "embedding")
    j = with_sides(cand, emb, "vec_id")
    cos = F.round(cosine_col(F.col("embedding_a"), F.col("embedding_b")), 6)
    return j.select(
        "vec_id_a",
        "vec_id_b",
        cos.alias("cosine"),
        (cos >= EMB_COSINE_DUP).alias("is_dup"),
    )


def embedding_dropped_buckets(embeddings: DataFrame, dim: int) -> DataFrame:
    """(bucket, bucket_n, pairs_dropped): the embedding-LSH buckets over
    ``EMB_MAX_BUCKET`` vectors."""
    dropped = over_cap(_lsh_rows(embeddings, dim), "bucket", EMB_MAX_BUCKET)
    return dropped.withColumnRenamed("n", "bucket_n")


def lsh_topk(embeddings: DataFrame, dim: int) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): top-k among multi-table LSH candidates.

    Approximate: recall < 1 vs ``cosine_topk`` by construction; the exploded
    bucket equi-join is what survives a 10^9-vector corpus (hash-partitioned
    on the bucket key, candidates deduped across tables, exact re-rank inside).
    """
    e = _lsh_rows(embeddings, dim)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    cand = (
        _neighbors(e, q.select("query_id", "bucket"), "bucket")
        .select("query_id", "vec_id", "embedding")
        .dropDuplicates(["query_id", "vec_id"])
    )
    q_emb = q.select("query_id", "q_emb").dropDuplicates(["query_id"])
    return _rerank(cand.join(F.broadcast(q_emb), "query_id"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-partitioned scale path
# ---------------------------------------------------------------------------

IVF_CENTROIDS = 16
IVF_PROBES = 4


def ivf_centroids(embeddings: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect the coarse-quantizer centroids (the IVF *model*) driver-side.

    An IVF index is a two-phase structure: a small learned model (K
    centroids) plus a partitioned corpus. The model legitimately lives on
    the driver — Spark ML's KMeans holds its cluster centers exactly this
    way — and is embedded into the assignment plan as literal arrays, so
    the per-vector assignment is a zero-shuffle projection (same principle
    as the LSH hyperplane literals above: constants belong in the plan).

    Deterministic seed rule (sandbox): centroid ``c`` = the embedding of
    ``vec_id == c``, reproducible in any engine, so the DuckDB oracle
    derives the identical quantizer. Production would run k-means|| here
    and feed the learned centers through the same (list_id, vector) shape;
    nothing downstream changes. K rows collected — O(K·dim) bytes, not a
    scan (predicate pushdown prunes on vec_id).
    """
    rows = (
        _as_double(embeddings)
        .filter(F.col("vec_id") < IVF_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    )
    return sorted((int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in rows)


def _nearest_lists_col(
    emb: Column, centroids: list[tuple[int, list[float]]], n_probe: int
) -> Column:
    """Array of the ``n_probe`` nearest centroid list_ids for a vector.

    Order: cosine desc, list_id asc (total order — rounded to 6 places
    first so the tie-break is engine-reproducible). Pure projection over
    literal centroid arrays: no join, no shuffle, whole-stage codegen.
    """
    scored = F.array(
        *[
            F.struct(
                F.round(cosine_col(emb, F.array(*[F.lit(v) for v in vec])), 6).alias("c"),
                F.lit(-lid).alias("nl"),
            )
            for lid, vec in centroids
        ]
    )
    # array_sort ascending by (c, nl); reversed -> c desc, nl desc = list_id asc
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return F.transform(top, lambda s: -s["nl"])


def ivf_assign(
    embeddings: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """Corpus with its inverted-list assignment: +(list_id) — each vector in
    exactly ONE list (a partition, unlike LSH's overlapping buckets).

    At 10^9 vectors this column is the table's physical partition/bucket key:
    write the corpus ``partitionBy("list_id")`` and probing prunes to
    ``IVF_PROBES/K`` of the data at scan time (partition pruning, no shuffle).
    """
    e = _as_double(embeddings)
    return e.withColumn(
        "list_id", _nearest_lists_col(F.col("embedding"), centroids, 1)[0]
    )


def ivf_topk(embeddings: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): IVF top-k — the second ANN
    scale path beside multi-table LSH (``lsh_topk``).

    Shape: assign every vector to its nearest of K centroids (inverted
    file); per query, probe only the ``IVF_PROBES`` nearest lists; exact
    cosine re-rank inside the probed lists. The probe side is
    (``N_QUERIES`` x ``IVF_PROBES``) rows and broadcast; the corpus side streams with
    partition pruning on ``list_id``. Because lists partition the corpus,
    candidates need NO cross-table dedup (contrast: LSH's multi-table
    union does). Approximate by construction: a true neighbor assigned to
    an unprobed list is missed — recall vs ``cosine_topk`` is measured in
    tests, tunable via ``IVF_PROBES``.
    """
    cents = ivf_centroids(embeddings)
    e = ivf_assign(embeddings, cents).select("vec_id", "embedding", "list_id")
    lists = _probes(e).select(
        "query_id",
        "q_emb",
        F.explode(_nearest_lists_col(F.col("q_emb"), cents, IVF_PROBES)).alias("list_id"),
    )
    return _rerank(_neighbors(e, lists, "list_id"))
