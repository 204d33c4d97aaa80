"""Large-star/small-star connected components vs a union-find oracle."""

from __future__ import annotations

import random

import pytest

from addressparser_spark.operators import clustering
from addressparser_spark.operators.clustering import connected_components
from addressparser_spark.plans.pipeline import funnel_clusters_from


def _union_find_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # relabel each node by min of its component
    comp: dict[str, list[str]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for root, members in comp.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _check(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == _union_find_components(edges)


def test_simple_chain(spark):
    _check(spark, [("b", "a"), ("c", "b"), ("e", "d")])


def test_star_and_cycle(spark):
    _check(spark, [("a", "b"), ("a", "c"), ("a", "d"), ("x", "y"), ("y", "z"), ("z", "x")])


def test_random_graphs(spark):
    rng = random.Random(42)
    for trial in range(3):
        nodes = [f"n{i:03d}" for i in range(60)]
        edges = [tuple(rng.sample(nodes, 2)) for _ in range(50)]
        _check(spark, edges)


def test_long_path_converges_logarithmically(spark, monkeypatch):
    # path of 64 nodes: alternating stars converge in O(log n) rounds, not O(n)
    monkeypatch.setattr(clustering, "MAX_ITER", 10)
    edges = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(63)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert set(got.values()) == {"p00"}
    assert len(got) == 64


def test_assign_clusters_includes_singletons(spark):
    """The funnel's cluster assignment covers every profile: a conversation
    with no matched edge is its own cluster."""
    edges = spark.createDataFrame([("b", "a")], ["src", "dst"])
    profiles = spark.createDataFrame(
        [("a", "sig_a"), ("b", "sig_b"), ("solo", "sig_solo")], ["conv_id", "sig"]
    )
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in funnel_clusters_from(profiles, edges).collect()
    }
    assert got == {"a": "a", "b": "a", "solo": "solo"}
