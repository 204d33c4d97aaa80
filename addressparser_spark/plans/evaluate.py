"""Evaluation: pairwise F1 at the same blocking key (the BASELINE metric).

``labeled_pairs`` derives the labeled-pair table the metric is defined over:
every candidate pair that shares a blocking key, labeled by ground truth.
``pairwise_f1`` scores predicted clusters against it — all as DataFrame ops
(one row out), so the evaluation itself scales with the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pairs import with_sides


def _by_conv(assignment: DataFrame, name: str) -> DataFrame:
    """(conv, <name>) from a (conv_id, cluster_id) assignment."""
    return assignment.select(F.col("conv_id").alias("conv"), F.col("cluster_id").alias(name))


def labeled_pairs(pairs: DataFrame, truth: DataFrame) -> DataFrame:
    """(conv_a, conv_b, is_match): candidate pairs labeled by ground truth."""
    return with_sides(pairs, _by_conv(truth, "truth"), "conv").select(
        "conv_a", "conv_b", (F.col("truth_a") == F.col("truth_b")).alias("is_match")
    )


def pairwise_f1(
    predicted: DataFrame, labels: DataFrame
) -> DataFrame:
    """One row: (tp, fp, fn, precision, recall, f1) over the labeled pairs.

    ``predicted``: (conv_id, cluster_id) assignment. A labeled pair is
    predicted-positive iff both sides land in the same predicted cluster.
    """
    j = with_sides(labels, _by_conv(predicted, "pred"), "conv").select(
        "is_match", (F.col("pred_a") == F.col("pred_b")).alias("pred_match")
    )
    agg = j.agg(
        F.sum(F.when(F.col("is_match") & F.col("pred_match"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_match") & F.col("pred_match"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_match") & ~F.col("pred_match"), 1).otherwise(0)).alias("fn"),
        # tn makes the labeled-NEGATIVE denominator visible: precision=1.0 is
        # only evidence if the candidate space contains pairs that must NOT
        # match (the injected _d1 distractors guarantee it does)
        F.sum(F.when(~F.col("is_match") & ~F.col("pred_match"), 1).otherwise(0)).alias("tn"),
    )
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(1.0)).otherwise(
        F.col("tp") / (F.col("tp") + F.col("fp"))
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(1.0)).otherwise(
        F.col("tp") / (F.col("tp") + F.col("fn"))
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.when(prec + rec == 0, F.lit(0.0)).otherwise(2 * prec * rec / (prec + rec)), 6
        ).alias("f1"),
    )
