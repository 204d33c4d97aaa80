"""B2 synonym expansion: the SURVEY §5.3 metamorphic property.

Synonym variants of a conversation MUST land in the same 'syn' block —
the recall mechanism mirroring the reference's PushCrutch rewrites
(Parser.cs:367-520).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from addressparser_spark.data.synonyms import DEFAULT_SYNONYMS
from addressparser_spark.operators import blocking

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _profiles_of(spark, rows):
    t = spark.createDataFrame(rows, SCHEMA)
    return blocking.conv_profiles(blocking.normalize_turns(t))


def test_synonym_variant_lands_in_same_block(spark):
    rows = [
        ("c1", 0, "user", "the fast scan beats a big table", None, None),
        ("c1", 1, "assistant", "sort the rows", None, None),
        # variant: every replaced token is a dictionary synonym
        ("c2", 0, "user", "the quick scan beats a large table", None, None),
        ("c2", 1, "assistant", "order the rows", None, None),
        # control: genuinely different content
        ("c3", 0, "user", "the slow merge joins a small stream", None, None),
        ("c3", 1, "assistant", "filter the rows", None, None),
    ]
    p = _profiles_of(spark, rows)
    keys = {r["conv_id"]: r["block_key"] for r in blocking.synonym_blocks(p).collect()}
    assert keys["c1"] == keys["c2"], "synonym variant must share the syn block"
    assert keys["c1"] != keys["c3"]
    # the exact-sig family does NOT merge them (that's why 'syn' exists)
    sigs = {r["conv_id"]: r["sig"] for r in p.select("conv_id", "sig").collect()}
    assert sigs["c1"] != sigs["c2"]


def test_synonym_family_feeds_candidate_pairs(spark):
    rows = [
        ("c1", 0, "user", "the fast scan beats a big table", None, None),
        ("c2", 0, "user", "the quick scan beats a large table", None, None),
    ]
    p = _profiles_of(spark, rows)
    from addressparser_spark.operators.pairs import candidate_pairs

    blocks = blocking.synonym_blocks(p)
    pairs = {(r["conv_a"], r["conv_b"]) for r in candidate_pairs(blocks).collect()}
    assert pairs == {("c1", "c2")}


def test_canonicalization_is_idempotent(spark):
    """Canonical forms must be fixed points (no chains in the dictionary)."""
    for v, c in DEFAULT_SYNONYMS.items():
        assert c not in DEFAULT_SYNONYMS, (v, c)
    rows = [("c1", 0, "user", " ".join(DEFAULT_SYNONYMS.values()), None, None)]
    p = _profiles_of(spark, rows)
    canon_once = blocking.synonym_blocks(p).first()["block_key"]
    import hashlib

    expected = hashlib.md5(" ".join(DEFAULT_SYNONYMS.values()).encode()).hexdigest()
    assert canon_once == expected
