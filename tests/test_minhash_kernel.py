"""The MinHash sketch kernel (``minhash_md5``, java/MinHashMd5.java) and the
blocking and dedup sketches built on it.

The kernel must equal ``min(md5('NN|' || s))`` over the non-null shingles
for every hash index — checked here against ``hashlib`` — and the sketches
must equal their DuckDB twins on the edge rows the oracle-parity data does
not have: null, empty and punctuation-only text, 1- and 2-token text, and
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


def _reference(shingles: list[str | None] | None, n: int) -> list[str | None] | None:
    if not shingles:
        return None
    present = [s for s in shingles if s is not None]
    return [
        min((hashlib.md5(f"{i:02d}|{s}".encode()).hexdigest() for s in present), default=None)
        for i in range(n)
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


@pytest.mark.parametrize("n", [1, 12, 16])
def test_minhash_kernel_matches_hashlib(spark, n):
    df = spark.createDataFrame([(i, a) for i, a in enumerate(ARRAYS)], "id int, sh array<string>")
    got = {
        r["id"]: r["mh"]
        for r in df.select("id", kernel(spark, MINHASH_FUNC, F.col("sh"), F.lit(n)).alias("mh")).collect()
    }
    for i, a in enumerate(ARRAYS):
        want = _reference(a, n)
        assert (None if got[i] is None else list(got[i])) == want, (a, got[i], want)
    # the edge contracts by name: all-null elements -> n null minhashes;
    # empty or null array -> no sketch at all
    assert list(got[3]) == [None] * n
    assert got[5] is None and got[6] is None


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
    base = [oracle_docs.NORM_DOCS_CTE, oracle_docs.DOC_SHINGLES_CTE, oracle_docs._doc_minhash_cte()]
    want = _duck(edge_dir, oracle_docs._assemble("SELECT * FROM doc_minhash", *base))
    bands = _duck(edge_dir, oracle_docs._assemble(
        "SELECT doc_id, band, bucket FROM doc_bands", *base, oracle_docs._doc_bands_cte()
    ))
    # A known divergence that predates the kernel and lies in the shingle
    # sets, not the sketch: for text with no tokens (empty or punctuation
    # only) the engine's shingle set is [""], so it has a sketch row, while
    # the DuckDB twin's is empty and has none. Those documents are compared
    # by the rule; every other document by value.
    no_tokens = {i for i, t in enumerate(EDGE_TEXTS) if t is not None and not any(c.isalnum() for c in t)}
    assert no_tokens == {2, 7, 12}
    got = sketch.toPandas()
    assert set(got["doc_id"]) == set(want["doc_id"]) | no_tokens
    # the null-text document has no sketch row in either engine
    assert 1 not in set(got["doc_id"])
    assert _rows(got[~got["doc_id"].isin(no_tokens)]) == _rows(want)
    got_bands = dedup.doc_band_keys(sketch).toPandas()
    assert _rows(got_bands[~got_bands["doc_id"].isin(no_tokens)]) == _rows(bands)
