"""End-to-end: the pipeline recovers the injected ground-truth clusters."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from addressparser_spark.data.transcripts import transcripts_df, truth_df
from addressparser_spark.plans.pipeline import run_linkage


@pytest.fixture(scope="module")
def result(spark, sf_dir):
    t = transcripts_df(spark, sf_dir)
    return run_linkage(t)


def test_schema_shape(spark, sf_dir):
    t = transcripts_df(spark, sf_dir)
    assert [f.name for f in t.schema.fields] == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert t.schema["turn_idx"].dataType.simpleString() == "int"
    assert t.schema["ts"].dataType.simpleString() == "timestamp"


def test_clusters_match_ground_truth(spark, sf_dir, result):
    got = {r["conv_id"]: r["cluster_id"] for r in result.clusters.collect()}
    want = {r["conv_id"]: r["cluster_id"] for r in truth_df(spark, sf_dir).collect()}
    assert got == want


def test_pairwise_f1(spark, sf_dir, result):
    """Pairwise F1 >= 0.99 vs ground-truth clusters (BASELINE.md target)."""
    def pair_set(assign: dict[str, str]) -> set[tuple[str, str]]:
        by_cluster: dict[str, list[str]] = {}
        for c, k in assign.items():
            by_cluster.setdefault(k, []).append(c)
        out = set()
        for members in by_cluster.values():
            ms = sorted(members)
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    out.add((ms[i], ms[j]))
        return out

    got = pair_set({r["conv_id"]: r["cluster_id"] for r in result.clusters.collect()})
    want = pair_set({r["conv_id"]: r["cluster_id"] for r in truth_df(spark, sf_dir).collect()})
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, (precision, recall, f1)


def test_verdicts_on_true_pairs(result):
    """v1/v2 variants score 'exact'; v3 truncations score 'resumption'."""
    rows = result.scored.filter(
        F.col("conv_b").rlike("_v[123]$")
        & (F.col("conv_a") == F.regexp_replace("conv_b", "_v[123]$", ""))
    ).collect()
    assert rows, "no true pairs scored"
    for r in rows:
        if r["conv_b"].endswith(("_v1", "_v2")):
            assert r["verdict"] == "exact", r
        else:
            assert r["verdict"] in ("resumption", "near_dup"), r


def test_repartition_invariance(spark, sf_dir):
    """Clusters are identical regardless of input partitioning/order."""
    t = transcripts_df(spark, sf_dir)
    base = {r["conv_id"]: r["cluster_id"] for r in run_linkage(t).clusters.collect()}
    shuffled = t.repartition(13).sortWithinPartitions(F.desc("text"))
    got = {r["conv_id"]: r["cluster_id"] for r in run_linkage(shuffled).clusters.collect()}
    assert got == base


def test_over_cap_exact_duplicates_still_link(spark):
    """A group of more than MAX_BLOCK_SIZE identical conversations forms one
    cluster: the light stage links same-sig conversations from a window over
    the profiles, not from the capped blocks. Every block of the group is
    over the cap, so ``dropped_blocks`` lists all of them, its ``sig`` block
    included."""
    from datetime import datetime

    from addressparser_spark.operators.pairs import MAX_BLOCK_SIZE
    from addressparser_spark.streaming.incremental import TRANSCRIPT_SCHEMA

    ts = datetime(2024, 1, 1)
    dup_turns = [
        ("user", "how do i reset my router password after the firmware update"),
        ("assistant", "open the admin page choose security then pick reset password and confirm"),
    ]
    other_turns = [
        ("user", "what is the capital of australia and when was it chosen"),
        ("assistant", "canberra was chosen as a compromise and became the capital in 1913"),
    ]
    n_dup = MAX_BLOCK_SIZE + 1
    convs = [(f"dup_{i:03d}", dup_turns) for i in range(n_dup)] + [("other", other_turns)]
    t = spark.createDataFrame(
        [(c, i, role, text, None, ts) for c, turns in convs for i, (role, text) in enumerate(turns)],
        TRANSCRIPT_SCHEMA,
    )
    res = run_linkage(t)
    try:
        got = {r["conv_id"]: r["cluster_id"] for r in res.clusters.collect()}
        assert len(set(got.values())) == 2
        assert got == {c: ("other" if c == "other" else "dup_000") for c, _ in convs}

        srcs = res.blocks.select("src", "block_key").distinct()
        dropped = res.dropped_blocks.join(srcs, "block_key").collect()
        assert sorted(r["src"] for r in dropped) == [
            "mh0", "mh1", "mh2", "mh3", "mh4", "mh5", "mh6", "mh7", "prefix", "sig"
        ]
        assert {r["block_n"] for r in dropped} == {n_dup}
    finally:
        res.unpersist()


def test_compare_convs_point_api(spark, sf_dir):
    from addressparser_spark.data.transcripts import transcripts_df
    from addressparser_spark.operators.scoring import compare_convs

    t = transcripts_df(spark, sf_dir)
    r = compare_convs(t, "conv_000000", "conv_000000_v1").collect()
    assert len(r) == 1 and r[0]["verdict"] == "exact"
    r2 = compare_convs(t, "conv_000001", "conv_000003").collect()
    assert len(r2) == 1 and r2[0]["verdict"] == "far"
