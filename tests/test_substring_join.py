"""J2 heavy-mode substring join: containment recall + df-cap accounting."""

from __future__ import annotations

from pyspark.sql import functions as F

from addressparser_spark.operators import blocking
from addressparser_spark.operators.substring_join import (
    RARE_DF_CAP,
    hot_keys,
    substring_pairs,
    token_index,
)

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _profiles_of(spark, rows):
    t = spark.createDataFrame(rows, SCHEMA)
    return blocking.conv_profiles(blocking.normalize_turns(t))


def test_truncation_pair_found_via_contains(spark):
    long_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        ("base", 0, "user", long_text, None, None),
        ("base", 1, "assistant", "lambda mu nu xi omicron pi rho", None, None),
        # truncated resumption: only the first turn — its anchor phrase is a
        # verbatim substring of base's concatenated text
        ("trunc", 0, "user", long_text, None, None),
        # unrelated conversation, no shared shingles
        ("other", 0, "user", "one two three four five six seven eight", None, None),
    ]
    p = _profiles_of(spark, rows)
    got = {
        (r["conv_a"], r["conv_b"]): (r["a_contains_b"], r["b_contains_a"])
        for r in substring_pairs(p).collect()
    }
    assert ("base", "trunc") in got
    a_in_b, b_in_a = got[("base", "trunc")]
    assert a_in_b  # trunc's anchor occurs inside base's text
    assert all("other" not in k for pair in got for k in pair)


def test_hot_keys_reported_not_silent(spark):
    shared = "common shingle words repeated across conversations"
    rows = []
    for i in range(RARE_DF_CAP + 5):
        rows.append((f"c{i:03d}", 0, "user", f"{shared} tail{i} more{i} words{i}", None, None))
    p = _profiles_of(spark, rows)
    hot = hot_keys(p).collect()
    assert len(hot) > 0
    assert all(r["df"] > RARE_DF_CAP for r in hot)
    # hot keys are excluded from pair generation: the shared phrase alone
    # must NOT produce quadratic pairs
    n_pairs = substring_pairs(p).count()
    max_quadratic = (RARE_DF_CAP + 5) * (RARE_DF_CAP + 4) / 2
    assert n_pairs < max_quadratic


def test_stemming_inflected_variant_lands_in_same_bucket(spark):
    """Metamorphic (the CONTAINS stemming arm): a conversation differing only
    by inflection shares index keys with its base form, so the candidate
    fetch finds the pair even though no verbatim shingle matches."""
    from addressparser_spark.functions.tokens import distinct_shingles_col
    from addressparser_spark.operators.substring_join import INDEX_SHINGLE_K, token_index

    rows = [
        ("base", 0, "user", "run the query match fast now please", None, None),
        ("infl", 0, "user", "running the queries matched fast now please", None, None),
        ("other", 0, "user", "one two three four five six seven", None, None),
    ]
    p = _profiles_of(spark, rows)
    idx = token_index(p)
    keys = {}
    for r in idx.collect():
        keys.setdefault(r["conv_id"], set()).add(r["key"])
    assert keys["base"] & keys["infl"]  # stemmed shingles collide
    assert not (keys["base"] & keys["other"])
    # the same index over the raw tokens is the pre-stemming behavior: no
    # verbatim shingle survives the inflection differences in the first
    # 3-gram region
    raw_idx = p.select(
        "conv_id",
        F.explode(distinct_shingles_col(F.col("tokens"), INDEX_SHINGLE_K)).alias("key"),
    )
    raw = {}
    for r in raw_idx.collect():
        raw.setdefault(r["conv_id"], set()).add(r["key"])
    assert len(raw["base"] & raw["infl"]) < len(keys["base"] & keys["infl"])


def test_stem_rules_spark_duckdb_twins(spark):
    """The Catalyst when-chain and the DuckDB CASE build from one rule table
    and must agree byte-for-byte on every edge class."""
    import duckdb

    from addressparser_spark.data.stemming import stem_case_sql
    from addressparser_spark.functions.tokens import stem_tokens_col

    tokens = [
        "running", "runs", "run", "queries", "query", "matched", "matches",
        "matching", "sing", "ed", "s", "es", "ing", "bless", "falls",
        "committed", "stopped", "улица", "города", "xs", "goes", "tables",
    ]
    got = (
        spark.createDataFrame([(tokens,)], "toks array<string>")
        .select(F.explode(stem_tokens_col(F.col("toks"))).alias("stem"))
        .collect()
    )
    spark_stems = [r["stem"] for r in got]
    con = duckdb.connect()
    case = stem_case_sql("t")
    duck_stems = [
        con.execute(f"SELECT {case} FROM (SELECT ? AS t)", [t]).fetchone()[0]
        for t in tokens
    ]
    assert spark_stems == duck_stems
    want = dict(zip(tokens, spark_stems))
    assert want["running"] == "run" and want["runs"] == "run" and want["run"] == "run"
    assert want["queries"] == "query" and want["query"] == "query"
    assert want["matched"] == "match" == want["matches"] == want["matching"]
    assert want["sing"] == "sing"  # stem would be too short
    assert want["улица"] == "улица"  # non-ASCII passthrough


def test_token_index_stems_each_token_once(spark):
    """The stemming chain appears once in the index plan: the stems are
    projected before the shingle expression, which names its token array
    several times, references them."""
    p = _profiles_of(spark, [("c", 0, "user", "flies and ponies", None, None)]).cache()
    plan = token_index(p)._jdf.queryExecution().optimizedPlan().toString()
    p.unpersist()
    # the 'ies' -> 'y' rule (data/stemming.py) is one EndsWith per copy
    assert plan.count("ies)") == 1
