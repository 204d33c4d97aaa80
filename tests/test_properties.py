"""Property-based + golden tests (SURVEY §5 layers 2-3).

Hypothesis examples are collected into ONE Spark job per test (a Spark action
per example would be prohibitively slow), so each property runs over a batch
of generated inputs.
"""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from addressparser_spark import queries as q
from addressparser_spark.data.transcripts import transcripts_df
from addressparser_spark.functions.normalize import normalize_py
from addressparser_spark.functions.similarity import jaro_winkler_py
from addressparser_spark.operators import blocking
from addressparser_spark.plans.pipeline import run_linkage

TEXTS = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=["Cs"]),
    max_size=200,
)


@given(st.lists(TEXTS, min_size=1, max_size=50))
@settings(max_examples=5, deadline=None)
def test_normalizer_idempotent_and_bounded(texts):
    for t in texts:
        once = normalize_py(t)
        assert normalize_py(once) == once
        assert len(once) <= len(t) + t.count("\t") + t.count("\n")
        for ch in once:
            assert ch == " " or ch.isascii() and (ch.islower() or ch.isdigit()) or "а" <= ch <= "я"


_collected: list[str] = []


@given(st.lists(TEXTS, min_size=1, max_size=30))
@settings(max_examples=10, deadline=None)
def test_collect_for_spark_batch(texts):
    _collected.extend(texts)


def test_spark_normalizer_matches_oracle_on_hypothesis_corpus(spark):
    """One Spark job over everything hypothesis generated above."""
    corpus = _collected or ["fallback"]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = [
        r["n"]
        for r in df.select(
            F.coalesce(
                __import__(
                    "addressparser_spark.functions.normalize", fromlist=["normalize_col"]
                ).normalize_col(F.col("text")),
                F.lit(""),
            ).alias("n")
        ).collect()
    ]
    want = [normalize_py(t) or "" for t in corpus]
    assert got == want


@given(
    st.text(alphabet="abcdef ", max_size=60),
    st.text(alphabet="abcdef ", max_size=60),
)
@settings(max_examples=200, deadline=None)
def test_jw_properties(a, b):
    v = jaro_winkler_py(a, b)
    assert 0.0 <= v <= 1.0
    assert jaro_winkler_py(a, a) == 1.0 or a == ""
    assert abs(jaro_winkler_py(a, b) - jaro_winkler_py(b, a)) < 1e-12


def test_profiles_invariant_under_partitioning(spark, sf_dir):
    """Blocking keys are identical for any physical layout of the input."""
    t = transcripts_df(spark, sf_dir)
    base = blocking.block_table(
        blocking.conv_profiles(blocking.normalize_turns(t))
    )
    shuffled = blocking.block_table(
        blocking.conv_profiles(
            blocking.normalize_turns(
                t.repartition(17, "text").sortWithinPartitions(F.desc("turn_idx"))
            )
        )
    )
    assert base.exceptAll(shuffled).count() == 0
    assert shuffled.exceptAll(base).count() == 0


def test_duplicated_conv_joins_same_cluster(spark, sf_dir):
    """Metamorphic: re-emitting a conversation under a new id must merge."""
    t = transcripts_df(spark, sf_dir)
    clone = t.filter(F.col("conv_id") == "conv_000001").withColumn(
        "conv_id", F.lit("conv_000001_clone")
    )
    res = run_linkage(t.unionByName(clone))
    clusters = {r["conv_id"]: r["cluster_id"] for r in res.clusters.collect()}
    res.unpersist()
    assert clusters["conv_000001_clone"] == clusters["conv_000001"] == "conv_000001"


def test_golden_clusters(spark, sf_dir):
    """Layer-2 golden: fixed input -> committed expected assignment."""
    golden_path = os.path.join(os.path.dirname(__file__), "goldens", "clusters_sf0001.json")
    want = [tuple(x) for x in json.load(open(golden_path))]
    got = sorted(
        (r["conv_id"], r["cluster_id"])
        for r in q.er_linkage_clusters(spark, sf_dir).collect()
    )
    assert got == want


def test_flagship_invariant_under_parallelism():
    """SURVEY §5's strongest determinism property: the END-TO-END flagship
    (normalize -> block -> score -> connected components) produces a
    byte-identical cluster map at local[1] and at the multi-core default —
    at sf0.01, a full scale step above the rest of the suite.

    Runs both sides in subprocesses (one JVM allows one master per process)
    and compares an md5 over the sorted (conv_id, cluster_id) map. This is
    the same invariance the N-vs-4N scaling evidence in BASELINE.md depends
    on: if results drifted with parallelism, throughput scaling would be
    meaningless.
    """
    import hashlib
    import subprocess
    import sys

    prog = r"""
import hashlib, json, sys
from addressparser_spark.session import get_spark
from addressparser_spark import queries as q
spark = get_spark(app="invariance", cores=sys.argv[1], shuffle_partitions=int(sys.argv[2]), driver_memory="4g")
rows = sorted((r["conv_id"], r["cluster_id"]) for r in q.er_linkage_clusters(spark, "/root/testdata/sf0.01").collect())
print("HASH", hashlib.md5(json.dumps(rows).encode()).hexdigest(), len(rows))
"""

    def run(cores: str, parts: str) -> str:
        out = subprocess.run(
            [sys.executable, "-c", prog, cores, parts],
            capture_output=True, text=True, timeout=900, cwd="/root/repo",
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("HASH ")]
        assert lines, f"no HASH line (cores={cores}):\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
        return lines[0]

    serial = run("1", "1")
    parallel = run("8", "32")
    assert serial == parallel
