"""The capped-bucket pair operator every family binds: ``pairs.bucket_pairs``
generates the pairs of the keys within the cap, ``pairs.over_cap`` counts the
keys beyond it, and ``pairs.with_sides`` joins a payload onto both sides of
the pairs."""

from __future__ import annotations

import importlib

import pytest

from addressparser_spark.operators.pairs import bucket_pairs, over_cap, with_sides

# (module, cap constant, key column, id column) of each family's binding
FAMILIES = [
    ("pairs", "MAX_BLOCK_SIZE", "block_key", "conv"),
    ("dedup", "MAX_BUCKET", "bucket", "doc_id"),
    ("ann", "EMB_MAX_BUCKET", "bucket", "vec_id"),
    ("substring_join", "RARE_DF_CAP", "key", "conv"),
]


@pytest.mark.parametrize("module,const,key,id_", FAMILIES, ids=[f[1] for f in FAMILIES])
@pytest.mark.parametrize("extra", [0, 1], ids=["at_cap", "over_cap"])
def test_cap_boundary(spark, module, const, key, id_, extra):
    """A key with exactly ``cap`` rows yields every one of its cap(cap-1)/2
    pairs and no ``over_cap`` row; one more row drops all of its pairs and
    is counted once, with the pairs it would have made."""
    cap = getattr(importlib.import_module(f"addressparser_spark.operators.{module}"), const)
    n = cap + extra
    rows = spark.createDataFrame([("k", f"i{i:04d}") for i in range(n)], [key, id_])

    pairs = bucket_pairs(rows, key, id_, cap)
    assert pairs.columns == [f"{id_}_a", f"{id_}_b"]
    dropped = [r.asDict() for r in over_cap(rows, key, cap).collect()]
    if extra:
        assert pairs.count() == 0
        assert dropped == [{key: "k", "n": n, "pairs_dropped": n * (n - 1) // 2}]
    else:
        got = {(r[0], r[1]) for r in pairs.collect()}
        assert len(got) == cap * (cap - 1) // 2
        assert all(a < b for a, b in got)
        assert dropped == []


def test_bucket_pairs_keeps_near_cap_block(spark):
    """A block just under the ER cap keeps its whole pair set next to many
    small blocks: 80·79/2 pairs from the 80-row block plus 3 per 3-row block."""
    from addressparser_spark.operators.pairs import MAX_BLOCK_SIZE

    hot = [("hot", f"h{i:03d}") for i in range(80)]
    cold = [(f"b{j}", f"c{j:03d}x{k}") for j in range(40) for k in range(3)]
    blocks = spark.createDataFrame(hot + cold, ["block_key", "conv"])

    pairs = bucket_pairs(blocks, "block_key", "conv", MAX_BLOCK_SIZE)
    got = {(r["conv_a"], r["conv_b"]) for r in pairs.collect()}
    want = {(a, b) for _, a in hot for _, b in hot if a < b}
    for j in range(40):
        ids = [f"c{j:03d}x{k}" for k in range(3)]
        want |= {(a, b) for a in ids for b in ids if a < b}
    assert got == want
    assert len(want) == 80 * 79 // 2 + 40 * 3


def test_bucket_pairs_carries_attrs_and_dedups(spark):
    """Attrs of the id come out on both sides, and a pair that shares two
    keys is generated once."""
    rows = spark.createDataFrame(
        [("k1", "a", "sa"), ("k1", "b", "sb"), ("k2", "a", "sa"), ("k2", "b", "sb")],
        ["block_key", "conv", "sig"],
    )
    got = [r.asDict() for r in bucket_pairs(rows, "block_key", "conv", 2).collect()]
    assert got == [{"conv_a": "a", "conv_b": "b", "sig_a": "sa", "sig_b": "sb"}]


def test_with_sides_names_each_payload_column_per_side(spark):
    """Each payload column ``c`` of the rows comes out as ``c_a`` and
    ``c_b``, read from that side's row; every pair column is kept, but one
    named like a payload column out (a carried ``len_a``) gives way to it."""
    pairs = spark.createDataFrame(
        [("a", "b", 1, -1), ("a", "c", 2, -1)], ["doc_id_a", "doc_id_b", "n", "len_a"]
    )
    rows = spark.createDataFrame(
        [("a", "ta", 10), ("b", "tb", 20), ("c", "tc", 30)], ["doc_id", "text", "len"]
    )
    out = with_sides(pairs, rows, "doc_id")
    assert out.columns == [
        "doc_id_a", "doc_id_b", "n", "text_a", "text_b", "len_a", "len_b"
    ]
    got = sorted(tuple(r) for r in out.collect())
    assert got == [("a", "b", 1, "ta", "tb", 10, 20), ("a", "c", 2, "ta", "tc", 10, 30)]


def test_with_sides_drops_a_pair_whose_side_has_no_row(spark):
    """Both joins are inner: a pair with either side missing from the rows
    drops, as every family's hand-written side joins did."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "x"), ("y", "b")], ["conv_a", "conv_b"]
    )
    rows = spark.createDataFrame([("a", "sa"), ("b", "sb")], ["conv", "sig"])
    got = [r.asDict() for r in with_sides(pairs, rows, "conv").collect()]
    assert got == [{"conv_a": "a", "conv_b": "b", "sig_a": "sa", "sig_b": "sb"}]
