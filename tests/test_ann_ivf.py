"""IVF ANN: inverted-list partition property + recall vs the exact baseline.

The IVF index is the second ANN scale path (beside multi-table LSH): assign
each vector to its nearest of K deterministic centroids, probe only the
n_probe nearest lists per query, exact re-rank inside. Oracle parity (exact
value equality vs the DuckDB twin) is covered by tests/test_oracle_parity.py
via the ``ann_ivf_topk`` registry entry; these tests pin the structural
properties parity alone can't show.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from addressparser_spark.operators import ann
from addressparser_spark.operators.ann import (
    IVF_CENTROIDS,
    cosine_topk,
    ivf_assign,
    ivf_centroids,
    ivf_topk,
    lsh_topk,
)

DIM = 16


def _clustered_corpus(spark, n_anchors=12, per_anchor=10):
    """Deterministic clustered vectors: near-neighbors share an anchor.

    Anchors are interleaved (vec i -> anchor i % n_anchors) so the low
    vec_ids — the deterministic centroid seeds — cover every anchor, the
    diversity a real k-means training pass would produce.
    """
    rng = random.Random(7)
    anchors = [
        [rng.uniform(-1, 1) for _ in range(DIM)] for _ in range(n_anchors)
    ]
    rows = []
    for vid in range(n_anchors * per_anchor):
        anchor = anchors[vid % n_anchors]
        rows.append((vid, [v + rng.uniform(-0.05, 0.05) for v in anchor]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_assignment_is_a_partition(spark):
    df = _clustered_corpus(spark)
    cents = ivf_centroids(df)
    assigned = ivf_assign(df, cents)
    # exactly one list per vector (IVF lists partition the corpus — the
    # property that makes candidate generation dedup-free, unlike LSH)
    assert assigned.count() == df.count()
    valid = {lid for lid, _ in cents}
    lists = {r["list_id"] for r in assigned.select("list_id").distinct().collect()}
    assert lists <= valid
    # each centroid's own vector lands in its own list (cosine(self)=1)
    own = {
        r["vec_id"]: r["list_id"]
        for r in assigned.filter(F.col("vec_id") < IVF_CENTROIDS).collect()
    }
    assert own == {lid: lid for lid, _ in cents}


def test_recall_vs_exact(spark, monkeypatch):
    df = _clustered_corpus(spark)
    monkeypatch.setattr(ann, "TOP_K", 5)
    monkeypatch.setattr(ann, "N_QUERIES", 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(df).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(df).collect()
    }
    recall = len(exact & approx) / len(exact)
    # clustered data: a query's true neighbors share its anchor, so they
    # quantize to the same (or a probed) list — recall should be high
    assert recall >= 0.8, recall


def test_written_index_partition_prunes(spark, tmp_path):
    """The scale path: the assigned corpus written partitionBy(list_id) is a
    physical inverted file — a probe filter must reach the scan as a
    PARTITION filter (directory pruning), not a post-scan row filter."""
    df = _clustered_corpus(spark)
    cents = ivf_centroids(df)
    assigned = ivf_assign(df, cents).select("vec_id", "embedding", "list_id")
    path = str(tmp_path / "ivf_index")
    assigned.write.partitionBy("list_id").parquet(path)

    idx = spark.read.parquet(path)
    probed = [lid for lid, _ in cents[:2]]
    q = idx.filter(F.col("list_id").isin(probed))
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    scan = [b for b in plan.split("\n\n") if "Scan parquet" in b]
    assert scan and "PartitionFilters" in plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "list_id" in pf_line, pf_line
    # and the pruned read returns exactly the probed lists' rows
    expected = assigned.filter(F.col("list_id").isin(probed)).count()
    assert q.count() == expected > 0


def test_probe_bound_limits_candidates(spark, monkeypatch):
    # IVF_PROBES=1 searches only the query's own list: results are a subset
    # of the IVF_PROBES=K (exhaustive-probe) results, which equal exact top-k
    df = _clustered_corpus(spark)
    monkeypatch.setattr(ann, "IVF_PROBES", 1)
    narrow = {
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in ivf_topk(df).collect()
    }
    monkeypatch.setattr(ann, "IVF_PROBES", IVF_CENTROIDS)
    exhaustive = {
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in ivf_topk(df).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in cosine_topk(df).collect()
    }
    assert exhaustive == exact
    # every narrow result's (query, neighbor) pair scored identically
    narrow_pairs = {(q, n) for q, n, _ in narrow}
    ex_by_pair = {(q, n): c for q, n, c in exhaustive}
    for q, n, c in narrow:
        if (q, n) in ex_by_pair:
            assert ex_by_pair[(q, n)] == c


TOPK_PATHS = {
    "cosine": cosine_topk,
    "lsh": lambda df: lsh_topk(df, dim=DIM),
    "ivf": ivf_topk,
}


@pytest.mark.parametrize("path", sorted(TOPK_PATHS))
def test_equal_cosines_rank_by_neighbor_id(spark, monkeypatch, path):
    """Every top-k path ends in the one re-rank: equal cosines rank by
    neighbor_id ascending, and the cut at k keeps the lowest ids."""
    monkeypatch.setattr(ann, "TOP_K", 3)
    monkeypatch.setattr(ann, "N_QUERIES", 1)
    v = [1.0] + [0.5] * (DIM - 1)
    # vec 0 is the query; 9, 3, 7 and 5 are copies of it (cosine 1.0), 2 a
    # different vector
    rows = [(i, v) for i in (0, 9, 3, 7, 5)] + [(2, [0.5] * (DIM - 1) + [1.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = sorted(
        (r["rank"], r["neighbor_id"], r["cosine"]) for r in TOPK_PATHS[path](df).collect()
    )
    assert got == [(1, 3, 1.0), (2, 5, 1.0), (3, 7, 1.0)]
