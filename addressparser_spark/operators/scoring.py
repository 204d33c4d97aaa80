"""Pairwise scoring: the deterministic verdict cascade.

Analog of the reference's categorical comparator
``CompareAddresses -> {Exact, WithoutRoom, WithoutHouse, Partial, Far}``
(``AddressParser/Core/AddressComparer.cs:81-104,148-204``): an ordered ladder
of cheap-to-expensive checks, each fully deterministic so clusters are
identical run-to-run regardless of partitioning.

Verdicts (first match wins):

- ``exact``       signatures equal (normalization made the convs identical)
- ``near_dup``    shingle-set Jaccard >= 0.9
- ``resumption``  shingle containment >= 0.9 (one side truncates the other)
- ``partial``     Jaccard >= 0.5
- ``far``         otherwise

``jaccard``/``containment`` derive from one set-intersection count per pair;
``lev_sim`` is normalized capped-prefix Levenshtein; ``jw`` is Jaro-Winkler.
All three run as compiled JVM kernels from the shipped jar (``java/``:
merge-walk intersect over sorted hashes, and one fused kernel for
two-row-DP Levenshtein plus Jaro-Winkler) — no Python workers and no per-row
hash-set allocation, whose churn was the measured cause of sub-linear core
scaling. The cascade itself depends only on sig/jaccard/containment, so the
verdict is reproducible in the ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import INTERSECT_FUNC, TEXTSIM_FUNC, kernel
from .pairs import with_sides

JACCARD_NEAR = 0.9
CONTAIN_NEAR = 0.9
JACCARD_PARTIAL = 0.5

MATCH_VERDICTS = ("exact", "near_dup", "resumption")


TEXT_CAP = 96  # chars of concat_text carried into the pair join (lev/jw cap)


def _slim_profiles(profiles: DataFrame) -> DataFrame:
    # project the join payload down to what scoring needs: hashed shingles +
    # capped text — the pair join shuffles millions of rows, payload width is
    # the dominant cost at scale
    return profiles.select(
        F.col("conv_id").alias("conv"),
        "sig",
        F.col("sh_hash").alias("sh"),
        F.substring("concat_text", 1, TEXT_CAP).alias("text"),
    )


def jaccard_col(inter: Column, na: Column, nb: Column) -> Column:
    """round(|A∩B| / |A∪B|, 6) from the intersection count and the two set
    sizes (|A∪B| = |A|+|B|-|A∩B| for distinct-element sets); two empty
    sets are identical, so their Jaccard is 1.0."""
    union = na + nb - inter
    return F.round(F.when(union == 0, F.lit(1.0)).otherwise(inter / union), 6)


def score_pairs(
    pairs: DataFrame,
    profiles: DataFrame,
    broadcast_profiles: bool = False,
) -> DataFrame:
    """(conv_a, conv_b, jaccard, containment, lev_sim, jw, verdict).

    Join strategy is pinned explicitly: Catalyst misestimates the exploded
    pair side (Generate keeps the pre-explode row count), which can flip the
    plan into broadcasting *millions of pairs* and streaming the profiles —
    a parallelism collapse. Default is a shuffle-hash join on conv id (both
    sides exchange-partitioned, scales with executors); set
    ``broadcast_profiles=True`` when the profile batch is dimension-sized
    (incremental runs, benchmarks) to skip shuffling pair rows entirely.

    Both pair sides read one slim profile frame (``pairs.with_sides``), but
    on the shuffle-hash path each side still exchanges it on its own: the
    executed sf0.01 plan of ``er_scored_pairs`` holds no ``ReusedExchange``.
    Exchange reuse shows where a side is broadcast: the doc-dedup families'
    second side reuses the first side's broadcast.

    The feature columns are one ``select`` over the joined pairs. The
    kernels are registered in the pairs' session first, so any session with
    the jar on its classpath can score; one without it raises ``RuntimeError``.
    """
    spark = pairs.sparkSession
    slim = _slim_profiles(profiles)
    slim = F.broadcast(slim) if broadcast_profiles else slim.hint("shuffle_hash")
    # the join's one select runs both kernels: one set-intersection count per
    # pair (the merge walk needs the sh_hash arrays sorted, which
    # blocking.conv_profiles does), and the fused text kernel, whose one
    # string decode per side yields [lev_sim, jw] and keeps the per-pair
    # allocation rate (what GC-bound core scaling sees) low
    j = with_sides(pairs, slim, "conv").select(
        "conv_a",
        "conv_b",
        "sig_a",
        "sig_b",
        F.size("sh_a").alias("na"),
        F.size("sh_b").alias("nb"),
        kernel(spark, INTERSECT_FUNC, F.col("sh_a"), F.col("sh_b")).alias("inter"),
        kernel(spark, TEXTSIM_FUNC, F.col("text_a"), F.col("text_b")).alias("ts"),
    )
    # Jaccard and containment both derive from the intersection count
    # arithmetically (|A∪B| = |A|+|B|-|A∩B| since the sets are distinct) —
    # no array_union materialization
    inter, na, nb = F.col("inter"), F.col("na"), F.col("nb")
    jaccard = jaccard_col(inter, na, nb)
    containment = F.round(
        F.when(F.least(na, nb) == 0, F.lit(1.0)).otherwise(inter / F.least(na, nb)), 6
    )
    verdict = (
        F.when(F.col("sig_a") == F.col("sig_b"), "exact")
        .when(jaccard >= JACCARD_NEAR, "near_dup")
        .when(containment >= CONTAIN_NEAR, "resumption")
        .when(jaccard >= JACCARD_PARTIAL, "partial")
        .otherwise("far")
    )
    # null contract: a null text gives lev_sim null and jw 0.0. TextSim
    # returns NULL for a null input (a double[] cannot carry per-element
    # nulls), so lev_sim propagates it and jw is coalesced.
    return j.select(
        "conv_a",
        "conv_b",
        jaccard.alias("jaccard"),
        containment.alias("containment"),
        F.round(F.col("ts")[0], 6).alias("lev_sim"),
        F.round(F.coalesce(F.col("ts")[1], F.lit(0.0)), 6).alias("jw"),
        verdict.alias("verdict"),
    )


VERDICT_RANK = {"exact": 5, "near_dup": 4, "resumption": 3, "partial": 2, "far": 1}


def choose_candidate(scored: DataFrame, profiles: DataFrame) -> DataFrame:
    """R1 proper: the multi-feature ranking cascade as ONE composed window.

    Analog of ``AddressChooser.cs:19-109`` — a 9-step ordered tie-break over
    computed features. The Spark-first form is exactly what SURVEY §2.6
    specifies: compute every feature as a column, then a single
    ``row_number`` over the composed descending order (verdict class,
    jaccard, containment, lev_sim, jw, candidate size, id) — one shuffle on
    ``conv_a``, no per-step passes. Every feature is deterministic and the
    final key (``conv_b``) is unique, so the chosen row is total-order
    stable under any partitioning.

    Returns one row per ``conv_a``: its best-ranked candidate with the
    features that chose it.
    """
    expr = None
    for v, r in VERDICT_RANK.items():
        expr = (
            F.when(F.col("verdict") == v, r)
            if expr is None
            else expr.when(F.col("verdict") == v, r)
        )
    feats = scored.join(
        profiles.select(F.col("conv_id").alias("conv_b"), F.col("n_turns").alias("n_turns_b")),
        "conv_b",
    ).withColumn("verdict_rank", expr)
    w = Window.partitionBy("conv_a").orderBy(
        F.desc("verdict_rank"),
        F.desc("jaccard"),
        F.desc("containment"),
        F.desc("lev_sim"),
        F.desc("jw"),
        F.desc("n_turns_b"),
        F.asc("conv_b"),
    )
    return (
        feats.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "conv_a",
            F.col("conv_b").alias("best_match"),
            "verdict",
            "jaccard",
            "containment",
            "lev_sim",
            "jw",
            "n_turns_b",
        )
    )


def matched_edges(scored: DataFrame) -> DataFrame:
    """Edges feeding the clustering stage."""
    return scored.filter(F.col("verdict").isin(*MATCH_VERDICTS)).select(
        F.col("conv_a").alias("src"), F.col("conv_b").alias("dst")
    )


def compare_convs(transcripts: DataFrame, conv_a: str, conv_b: str) -> DataFrame:
    """Point comparison of two conversations -> one verdict row.

    Public-API analog of ``CompareAddresses(string, string)``
    (``AddressParser.cs:143-153``): callers hand two entity keys and get the
    categorical verdict plus the similarity features the cascade used.
    """
    from . import blocking

    pair = transcripts.sparkSession.createDataFrame(
        [(min(conv_a, conv_b), max(conv_a, conv_b))], ["conv_a", "conv_b"]
    )
    sub = transcripts.filter(F.col("conv_id").isin(conv_a, conv_b))
    profiles = blocking.conv_profiles(blocking.normalize_turns(sub))
    return score_pairs(pair, profiles, broadcast_profiles=True)
