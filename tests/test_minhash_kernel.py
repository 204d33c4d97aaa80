"""The MinHash kernel (``minhash_java``, java/MinHash.java), the one
shingle hash it reads (``blocking.shingle_hashes``), and the blocking and
dedup sketches built on them.

A shingle's hash must equal ``int(md5(s).hexdigest()[:15], 16)``, and
minhash i the min of ``(a_i * x + b_i) mod (2^61 - 1)`` over those hashes —
both checked here against a pure-Python reference — and the sketches must
equal their DuckDB twins on the edge rows the oracle-parity data does not
have: null, empty and punctuation-only text, 1- and 2-token text, and
Cyrillic text.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from addressparser_spark import oracle, oracle_docs
from addressparser_spark.data.transcripts import transcripts_df
from addressparser_spark.operators import blocking, dedup
from addressparser_spark.session import MINHASH_FUNC, kernel


def _hash(s: str | None) -> int | None:
    return None if s is None else int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _reference(shingles: list[str | None] | None, n: int) -> list[int | None] | None:
    if not shingles:
        return None
    xs = [_hash(s) for s in shingles if s is not None]
    return [
        min(((a * x + b) % (2**61 - 1) for x in xs), default=None)
        for a, b in blocking.MINHASH_PARAMS[:n]
    ]


ARRAYS = [
    ["the quick fox", "quick fox jumps", "fox jumps over"],
    ["привет как дела", "ёлка и снег", "naïve café", "日本語 テキスト", "emoji 🙂 here"],
    ["a", None, "b"],
    [None, None],
    [""],
    [],
    None,
]


def test_shingle_hashes_match_hashlib(spark):
    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(ARRAYS) if a is None or None not in a], "id int, sh array<string>"
    )
    got = {r["id"]: r["h"] for r in df.select("id", blocking.shingle_hashes(F.col("sh")).alias("h")).collect()}
    for i, h in got.items():
        want = None if ARRAYS[i] is None else sorted(_hash(s) for s in ARRAYS[i])
        assert h == want, (ARRAYS[i], h, want)
    assert all(0 <= x < 2**60 for h in got.values() if h for x in h)


@pytest.mark.parametrize("n", [1, 12, 16])
def test_minhash_kernel_matches_hashlib(spark, n):
    rows = [(i, None if a is None else [_hash(s) for s in a]) for i, a in enumerate(ARRAYS)]
    df = spark.createDataFrame(rows, "id int, h array<bigint>")
    got = {
        r["id"]: r["mh"]
        for r in df.select("id", blocking.minhash_col(spark, F.col("h"), n).alias("mh")).collect()
    }
    for i, a in enumerate(ARRAYS):
        want = _reference(a, n)
        assert (None if got[i] is None else list(got[i])) == want, (a, got[i], want)
    # the edge contracts by name: all-null elements -> n null minhashes;
    # empty or null array -> no sketch at all
    assert list(got[3]) == [None] * n
    assert got[5] is None and got[6] is None


def test_minhash_reduction_at_the_bounds(spark):
    """The Mersenne reduction is exact where the 128-bit product is widest:
    hashes and multipliers at their maxima, and a sum landing on p."""
    p = blocking.MERSENNE_61
    xs = [0, 1, 2**60 - 1, 2**59, p - 2**60]
    df = spark.createDataFrame([(xs,)], "h array<bigint>")
    a, b = [p - 1, p - 1, 1, 2**60 + 7], [p - 1, 0, p - 1, 1]
    mh = kernel(
        spark, MINHASH_FUNC, F.col("h"),
        F.lit(a).cast("array<bigint>"), F.lit(b).cast("array<bigint>"),
    )
    got = list(df.select(mh.alias("mh")).first()["mh"])
    assert got == [min((ai * x + bi) % p for x in xs) for ai, bi in zip(a, b)]


EDGE_TEXTS = [
    # conv 0 (+ its _v1 variant): a null turn among real ones, empty text
    "Hello world, how are you today", None, "", "hello", "hello world",
    # conv 1 (+ its _d1 distractor): Cyrillic, ё folding, punctuation only
    "Привет, мир! Как дела?", "ёлка и снег", "!!!", "да", "one two three four five",
    # conv 2 (+ its _v2 variant): 1- and 2-token turns
    "ok", "ok then", "", "Ещё раз", "fine",
]


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("minhash_edges")
    pd.DataFrame(
        {"doc_id": range(len(EDGE_TEXTS)), "text": EDGE_TEXTS}
    ).astype({"doc_id": "int64"}).to_parquet(d / "documents.parquet")
    return str(d)


def _duck(edge_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{edge_dir}/documents.parquet')"
    )
    return con.execute(sql).df()


def _rows(df: pd.DataFrame) -> list[tuple]:
    return sorted(
        tuple(None if pd.isna(v) else v for v in r)
        for r in df[sorted(df.columns)].itertuples(index=False)
    )


def test_block_table_matches_duckdb_on_edge_rows(spark, edge_dir):
    profiles = blocking.conv_profiles(blocking.normalize_turns(transcripts_df(spark, edge_dir)))
    got = blocking.block_table(profiles)
    want = _duck(edge_dir, oracle.block_table_sql())
    assert {"mh0", "mh7", "sig", "prefix"} <= set(want["src"])
    assert _rows(got.select("conv_id", "src", "block_key").toPandas()) == _rows(want)
    bands = _duck(edge_dir, oracle.minhash_bands_sql())
    assert _rows(blocking.minhash_bands(profiles).toPandas()) == _rows(bands)
    # every block row carries its own conversation's signature
    sigs = profiles.select("conv_id", F.col("sig").alias("want"))
    assert got.join(sigs, "conv_id").filter(F.col("sig") != F.col("want")).count() == 0


def test_doc_sketch_matches_duckdb_on_edge_rows(spark, edge_dir):
    docs = spark.read.parquet(f"{edge_dir}/documents.parquet")
    sketch = dedup.doc_minhash(docs)
    base = [oracle_docs.NORM_DOCS_CTE, oracle_docs.DOC_SHINGLES_CTE, oracle_docs._doc_bands_cte()]
    want = _duck(edge_dir, oracle_docs._assemble("SELECT * FROM doc_minhash", *base))
    bands = _duck(edge_dir, oracle_docs._assemble("SELECT doc_id, band, bucket FROM doc_bands", *base))
    got = sketch.toPandas()
    # text with no tokens (empty or punctuation only) has the one shingle
    # '' in both engines, and so a sketch; the null-text document has none
    assert {2, 7, 12} <= set(got["doc_id"])
    assert 1 not in set(got["doc_id"])
    assert _rows(got) == _rows(want)
    assert _rows(dedup.doc_band_keys(sketch).toPandas()) == _rows(bands)
