"""Adversarial hard-negative fixture contract (the precision evidence).

The ``_d1`` distractors exist so that pairwise precision is measured against
labeled negatives that actually SHARE a blocking key — a blocking/scoring
stage that over-merges must produce fp > 0 here. Reference analog: similar
addresses under one parent that must NOT resolve to the same ``Addresses.Id``
(``Db/DataContextBase_Address.cs:359-440``).

Contract, each part load-bearing:
1. every distractor co-blocks with its base (prefix family -> candidate pair),
2. every (base, _d1) candidate pair is REJECTED by the scorer with a wide
   similarity margin (thresholds are 0.9; the fixture's worst case is ~0.8
   by construction, see data/transcripts.py::_distractor_text),
3. ground truth keeps _d1 as its own entity, so any merge surfaces as fp.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from addressparser_spark import queries as q
from addressparser_spark.data import transcripts as tr
from addressparser_spark.data.transcripts import truth_df
from addressparser_spark.operators import blocking
from addressparser_spark.operators import pairs as pairs_op
from addressparser_spark.plans.evaluate import labeled_pairs


def test_prefix_window_matches_blocking():
    """DISTRACTOR_PREFIX_TURNS is a copy of blocking.PREFIX_TURNS (kept out of
    data/ to avoid an operators/ import); this pins the sync."""
    assert tr.DISTRACTOR_PREFIX_TURNS == blocking.PREFIX_TURNS


def test_every_distractor_coblocks_with_its_base(spark, sf_dir):
    t = tr.transcripts_df(spark, sf_dir)
    n_d1 = t.filter(F.col("conv_id").endswith("_d1")).select("conv_id").distinct().count()
    assert n_d1 > 0
    cand = pairs_op.candidate_pairs(q._blocks(spark, sf_dir))
    # (base, base_d1) pairs present in the candidate set
    base_d1 = cand.filter(
        F.col("conv_b") == F.concat(F.col("conv_a"), F.lit("_d1"))
    ).count()
    assert base_d1 == n_d1


def test_distractor_pairs_rejected_with_margin(spark, sf_dir):
    scored = q.er_scored_pairs(spark, sf_dir)
    d1 = scored.filter(
        F.col("conv_a").endswith("_d1") | F.col("conv_b").endswith("_d1")
    )
    rows = d1.collect()
    assert rows, "distractor pairs must reach the scorer"
    for r in rows:
        assert r["verdict"] not in ("exact", "near_dup", "resumption"), r
        # wide margin below the 0.9 thresholds — a fixture drift that erodes
        # it should fail loudly here, not flake at the driver
        assert r["jaccard"] < 0.8 and r["containment"] < 0.8, r


def test_synth_generator_mirrors_the_distractor_contract(spark):
    """data/synth.py (bench + scale-linearity input) injects the same _d1
    hard negatives; its F1 must also be measured against real negatives."""
    from addressparser_spark.data.synth import synth_transcripts, synth_truth
    from addressparser_spark.plans.pipeline import run_linkage
    from addressparser_spark.plans.evaluate import pairwise_f1

    t = synth_transcripts(spark, n_convs=240)
    res = run_linkage(t)
    d1 = res.scored.filter(
        F.col("conv_a").endswith("_d1") | F.col("conv_b").endswith("_d1")
    )
    rows = d1.select("jaccard", "containment", "verdict").collect()
    assert len(rows) >= 240 // 6  # every distractor reaches the scorer
    assert all(r["jaccard"] < 0.8 and r["containment"] < 0.8 for r in rows)
    f1 = pairwise_f1(
        res.clusters, labeled_pairs(res.pairs, synth_truth(t))
    ).collect()[0]
    assert f1["fp"] == 0 and f1["f1"] == 1.0 and f1["tn"] >= len(rows)


def test_distractors_are_labeled_negatives_and_stay_unclustered(spark, sf_dir):
    cand = pairs_op.candidate_pairs(q._blocks(spark, sf_dir))
    labels = labeled_pairs(cand, truth_df(spark, sf_dir))
    d1 = labels.filter(
        F.col("conv_a").endswith("_d1") | F.col("conv_b").endswith("_d1")
    )
    assert d1.filter(F.col("is_match")).count() == 0
    assert d1.count() > 0
    f1 = q.er_eval_f1(spark, sf_dir).collect()[0]
    assert f1["fp"] == 0 and f1["f1"] == 1.0
    assert f1["tn"] >= d1.count()  # negatives include every distractor pair
