"""DuckDB-SQL oracles for the documents/embeddings operator family.

Same contract as ``oracle.py``: exact twins of the Spark operators in
``operators/dedup.py``, ``operators/text_analysis.py``, ``operators/ann.py``,
assembled from the same constants.
"""

from __future__ import annotations

from .functions.normalize import normalize_sql_duckdb
from .oracle import capped_pairs_cte, minhash_cte, over_cap_sql, shingles_sql
from .operators.ann import LSH_BITS_PER_TABLE, LSH_TABLES, N_QUERIES, TOP_K
from .operators.dedup import (
    CHAR_NGRAM,
    DOC_JACCARD_DUP,
    DOC_NUM_HASHES,
    DOC_ROWS_PER_BAND,
    DOC_SHINGLE_K,
    HAMMING_DUP,
    MAX_BUCKET,
    SIMHASH_BAND_CHARS,
    SIMHASH_BITS,
)
from .operators.text_analysis import (
    BPE_PATTERN,
    CYRILLIC_PATTERN,
    EN_STOPWORDS,
    FINGERPRINT_K,
    FINGERPRINT_NGRAM,
    RU_STOPWORDS,
    WORD_PATTERN,
)

_NORM = normalize_sql_duckdb("text")

NORM_DOCS_CTE = f"""
norm_docs AS (
  SELECT doc_id, {_NORM} AS norm_text FROM documents
)
"""

_TOKS = "list_filter(string_split(norm_text, ' '), t -> t <> '')"

DOC_SHINGLES_CTE = f"""
doc_toks AS (
  SELECT doc_id, norm_text, {_TOKS} AS toks FROM norm_docs
),
doc_shingle_sets AS (
  SELECT doc_id, {shingles_sql("toks", DOC_SHINGLE_K)} AS sh
  FROM doc_toks
),
doc_shingles AS (SELECT doc_id, unnest(sh) AS s FROM doc_shingle_sets)
"""


def _doc_bands_cte() -> str:
    """CTEs ``doc_minhash`` (each document's sketch) and ``doc_bands`` (its
    LSH band keys)."""
    selects = []
    for b in range(DOC_NUM_HASHES // DOC_ROWS_PER_BAND):
        parts = " || '|' || ".join(
            f"mh_{i:02d}"
            for i in range(b * DOC_ROWS_PER_BAND, (b + 1) * DOC_ROWS_PER_BAND)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band, md5('{b}' || '|' || {parts}) AS bucket FROM doc_minhash"
        )
    return (
        minhash_cte("doc_minhash", "doc_shingles", "doc_id", DOC_NUM_HASHES)
        + ",\ndoc_bands AS (\n  " + "\n  UNION ALL\n  ".join(selects) + "\n)"
    )


_BUCKET_PAIRS = capped_pairs_cte("cand", "buckets", "bucket", "doc_id", MAX_BUCKET, "doc_id")


def _assemble(final_select: str, *ctes: str) -> str:
    body = ",\n".join(c.strip().rstrip(",") for c in ctes if c.strip())
    return f"WITH {body}\n{final_select}"


def dedup_exact_sql() -> str:
    return _assemble(
        """SELECT doc_id, md5(norm_text) AS content_key,
       min(doc_id) OVER (PARTITION BY md5(norm_text)) AS dup_group,
       count(*) OVER (PARTITION BY md5(norm_text)) AS group_n
FROM norm_docs""",
        NORM_DOCS_CTE,
    )


def dedup_minhash_lsh_sql() -> str:
    return _assemble(
        f"""SELECT c.doc_id_a, c.doc_id_b,
       round(CASE WHEN len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) = 0 THEN 1.0
             ELSE len(list_intersect(sa.sh, sb.sh))
                  / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) END, 6) AS jaccard,
       round(CASE WHEN len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) = 0 THEN 1.0
             ELSE len(list_intersect(sa.sh, sb.sh))
                  / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) END, 6)
         >= {DOC_JACCARD_DUP} AS is_dup
FROM cand c
JOIN doc_shingle_sets sa ON sa.doc_id = c.doc_id_a
JOIN doc_shingle_sets sb ON sb.doc_id = c.doc_id_b""",
        NORM_DOCS_CTE,
        DOC_SHINGLES_CTE,
        _doc_bands_cte(),
        "buckets AS (SELECT doc_id, bucket FROM doc_bands)",
        _BUCKET_PAIRS,
    )


_SIMHASH_CTE = f"""
tok_rows AS (
  SELECT doc_id, md5(unnest({_TOKS})) AS h FROM norm_docs
),
sim_agg AS (
  SELECT doc_id,
         {", ".join(f"sum(CASE WHEN substr(h, {i + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS b{i:02d}" for i in range(SIMHASH_BITS))}
  FROM tok_rows GROUP BY doc_id
),
simhash AS (
  SELECT doc_id,
         {" || ".join(f"(CASE WHEN b{i:02d} > 0 THEN '1' ELSE '0' END)" for i in range(SIMHASH_BITS))} AS simhash
  FROM sim_agg
)
"""


def dedup_simhash_sql() -> str:
    n_bands = SIMHASH_BITS // SIMHASH_BAND_CHARS
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, '{b}|' || substr(simhash, {b * SIMHASH_BAND_CHARS + 1}, {SIMHASH_BAND_CHARS}) AS bucket FROM simhash"
        for b in range(n_bands)
    )
    return _assemble(
        f"""SELECT c.doc_id_a, c.doc_id_b,
       len(list_filter(range(1, {SIMHASH_BITS + 1}),
           i -> substr(a.simhash, CAST(i AS INT), 1) <> substr(b.simhash, CAST(i AS INT), 1))) AS hamming,
       len(list_filter(range(1, {SIMHASH_BITS + 1}),
           i -> substr(a.simhash, CAST(i AS INT), 1) <> substr(b.simhash, CAST(i AS INT), 1))) <= {HAMMING_DUP} AS is_dup
FROM cand c
JOIN simhash a ON a.doc_id = c.doc_id_a
JOIN simhash b ON b.doc_id = c.doc_id_b""",
        NORM_DOCS_CTE,
        _SIMHASH_CTE,
        f"buckets AS (\n  {band_selects}\n)",
        _BUCKET_PAIRS,
    )


def dedup_ngram_jaccard_sql() -> str:
    g = (
        f"list_distinct(list_transform(range(1, greatest(length(norm_text) - {CHAR_NGRAM - 1}, 1) + 1), "
        f"i -> substr(norm_text, CAST(i AS INT), {CHAR_NGRAM})))"
    )
    return _assemble(
        """SELECT c.doc_id_a, c.doc_id_b,
       round(CASE WHEN len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)) = 0 THEN 1.0
             ELSE len(list_intersect(ga.g, gb.g))
                  / CAST(len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)) AS DOUBLE) END, 6) AS ngram_jaccard
FROM cand c
JOIN grams ga ON ga.doc_id = c.doc_id_a
JOIN grams gb ON gb.doc_id = c.doc_id_b""",
        NORM_DOCS_CTE,
        DOC_SHINGLES_CTE,
        _doc_bands_cte(),
        "buckets AS (SELECT doc_id, bucket FROM doc_bands)",
        _BUCKET_PAIRS,
        f"grams AS (SELECT doc_id, {g} AS g FROM norm_docs)",
    )


def _stoplist_sql(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def text_scrub_sql() -> str:
    """DuckDB twin of operators.text_analysis.text_scrub (RE2-safe patterns)."""
    from .operators.text_analysis import PII_EMAIL, PII_NUMBER, PII_URL

    def esc(p: str) -> str:
        return p.replace("'", "''")

    return f"""SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{esc(PII_EMAIL)}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{esc(PII_URL)}')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(text, '{esc(PII_NUMBER)}')) AS INT) AS n_numbers,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{esc(PII_URL)}', '<url>', 'g'),
           '{esc(PII_EMAIL)}', '<email>', 'g'),
           '{esc(PII_NUMBER)}', '<number>', 'g') AS text_scrubbed
FROM documents"""


def text_repetition_sql() -> str:
    """DuckDB twin of operators.text_analysis.text_repetition."""
    top = ("list_max(list_transform(list_distinct(toks), "
           "d -> len(list_filter(toks, t -> t = d)))) / CAST(len(toks) AS DOUBLE)")
    bg = "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])"
    dup = (f"1.0 - len(list_distinct({bg})) / CAST(len({bg}) AS DOUBLE)")
    return _assemble(
        f"""SELECT doc_id,
       len(toks) AS n_tokens,
       round(CASE WHEN len(toks) = 0 THEN 0.0
             ELSE len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) END, 6) AS distinct_token_ratio,
       round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE {top} END, 6) AS top_token_frac,
       round(CASE WHEN len(toks) < 2 THEN 0.0 ELSE {dup} END, 6) AS dup_bigram_frac,
       (CASE WHEN len(toks) = 0 THEN 0.0 ELSE {top} END) > 0.3
         OR (CASE WHEN len(toks) < 2 THEN 0.0 ELSE {dup} END) > 0.5 AS flagged
FROM (SELECT doc_id, {_TOKS} AS toks FROM norm_docs)""",
        NORM_DOCS_CTE,
    )


def text_quality_sql() -> str:
    from .operators.text_analysis import (
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MEAN_WORD_LEN_HI,
        GOPHER_MEAN_WORD_LEN_LO,
        GOPHER_MIN_STOPWORD_HITS,
        GOPHER_SYMBOL_PATTERN,
    )

    stop = _stoplist_sql(EN_STOPWORDS + RU_STOPWORDS)
    avg_tok = ("CASE WHEN len(t.toks) = 0 THEN 0.0 "
               "ELSE list_sum(list_transform(t.toks, x -> length(x)))"
               " / CAST(len(t.toks) AS DOUBLE) END")
    stop_hits = f"len(list_filter(t.toks, x -> list_contains({stop}, x)))"
    # quote-doubling only (the file's esc() convention): the shared pattern
    # is used verbatim by both engines, so any other rewrite would desync
    # the oracle from Spark's regexp_count
    sym_pat = GOPHER_SYMBOL_PATTERN.replace("'", "''")
    symbol_ratio = (f"CASE WHEN len(t.toks) = 0 THEN 0.0 "
                    f"ELSE len(regexp_extract_all(d.text, '{sym_pat}'))"
                    f" / CAST(len(t.toks) AS DOUBLE) END")
    word_len_ok = (f"(({avg_tok}) >= {GOPHER_MEAN_WORD_LEN_LO}"
                   f" AND ({avg_tok}) <= {GOPHER_MEAN_WORD_LEN_HI})")
    return _assemble(
        f"""SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       len(t.toks) AS n_tokens,
       round({avg_tok}, 6) AS avg_token_len,
       round(CASE WHEN len(t.toks) = 0 THEN 0.0
             ELSE len(list_filter(t.toks, x -> list_contains({stop}, x))) / CAST(len(t.toks) AS DOUBLE) END, 6) AS stopword_ratio,
       round(CASE WHEN length(d.text) = 0 THEN 0.0
             ELSE length(regexp_replace(d.text, '[A-Za-zА-Яа-яЁё0-9\\s]', '', 'g')) / CAST(length(d.text) AS DOUBLE) END, 6) AS punct_ratio,
       round(CASE WHEN length(d.text) = 0 THEN 0.0
             ELSE length(regexp_replace(d.text, '[^0-9]', '', 'g')) / CAST(length(d.text) AS DOUBLE) END, 6) AS digit_ratio,
       round({symbol_ratio}, 6) AS symbol_word_ratio,
       {stop_hits} AS stopword_hits,
       {word_len_ok} AS mean_word_len_ok,
       (NOT {word_len_ok}
        OR ({symbol_ratio}) > {GOPHER_MAX_SYMBOL_RATIO}
        OR {stop_hits} < {GOPHER_MIN_STOPWORD_HITS}) AS gopher_flagged,
       round(
         least(len(t.toks) / 50.0, 1.0) * 0.4
         + least((CASE WHEN len(t.toks) = 0 THEN 0.0
                  ELSE len(list_filter(t.toks, x -> list_contains({stop}, x))) / CAST(len(t.toks) AS DOUBLE) END) * 5.0, 1.0) * 0.2
         + (1.0 - least((CASE WHEN length(d.text) = 0 THEN 0.0
                  ELSE length(regexp_replace(d.text, '[A-Za-zА-Яа-яЁё0-9\\s]', '', 'g')) / CAST(length(d.text) AS DOUBLE) END) * 4.0, 1.0)) * 0.2
         + (1.0 - least((CASE WHEN length(d.text) = 0 THEN 0.0
                  ELSE length(regexp_replace(d.text, '[^0-9]', '', 'g')) / CAST(length(d.text) AS DOUBLE) END) * 4.0, 1.0)) * 0.2
       , 6) AS quality_score
FROM documents d
JOIN (SELECT doc_id, {_TOKS} AS toks FROM norm_docs) t USING (doc_id)""",
        NORM_DOCS_CTE,
    )


def text_langid_sql() -> str:
    en = _stoplist_sql(EN_STOPWORDS)
    ru = _stoplist_sql(RU_STOPWORDS)
    cyr = f"len(regexp_extract_all(lower(d.text), '{CYRILLIC_PATTERN}'))"
    wordish = "len(regexp_extract_all(lower(d.text), '[a-zа-яё]'))"
    ratio = f"CASE WHEN {wordish} = 0 THEN 0.0 ELSE {cyr} / CAST({wordish} AS DOUBLE) END"
    en_hits = f"len(list_filter(t.toks, x -> list_contains({en}, x)))"
    ru_hits = f"len(list_filter(t.toks, x -> list_contains({ru}, x)))"
    pred = (
        f"CASE WHEN {ratio} >= 0.5 THEN 'ru' "
        f"WHEN {ratio} < 0.5 AND {ru_hits} > {en_hits} THEN 'ru' ELSE 'en' END"
    )
    return _assemble(
        f"""SELECT d.doc_id,
       round({ratio}, 6) AS cyrillic_ratio,
       {en_hits} AS en_stopword_hits,
       {ru_hits} AS ru_stopword_hits,
       {pred} AS lang_pred,
       d.lang,
       ({pred}) = d.lang AS agrees
FROM documents d
JOIN (SELECT doc_id, {_TOKS} AS toks FROM norm_docs) t USING (doc_id)""",
        NORM_DOCS_CTE,
    )


def token_counts_sql() -> str:
    return f"""SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS ws_tokens,
       len(regexp_extract_all(text, '{WORD_PATTERN}')) AS word_tokens,
       len(regexp_extract_all(text, '{BPE_PATTERN}')) AS bpe_units,
       round(CASE WHEN len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) = 0 THEN 0.0
             ELSE len(regexp_extract_all(text, '{BPE_PATTERN}'))
                  / CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS DOUBLE) END, 6) AS bpe_per_ws_token
FROM documents"""


def doc_fingerprints_sql() -> str:
    return _assemble(
        f"""SELECT doc_id,
       array_to_string(
         (list_sort(list_distinct(
            list_transform(range(1, greatest(length(norm_text) - {FINGERPRINT_NGRAM - 1}, 1) + 1),
                           i -> md5(substr(norm_text, CAST(i AS INT), {FINGERPRINT_NGRAM}))))))[1:{FINGERPRINT_K}],
         '|') AS fingerprint
FROM norm_docs""",
        NORM_DOCS_CTE,
    )


_COSINE = """
round(CASE WHEN sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(e.emb, e.emb)) = 0 THEN 0.0
      ELSE list_dot_product(q.q_emb, e.emb)
           / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(e.emb, e.emb))) END, 6)
"""


def ann_cosine_topk_sql() -> str:
    return f"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_COSINE} AS cosine
  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}"""


def ann_lsh_topk_sql(dim: int) -> str:
    n_planes = LSH_TABLES * LSH_BITS_PER_TABLE
    planes = ", ".join(
        f"list_transform(range(0, {dim}), d -> CASE WHEN substr(md5('{p}' || '|' || CAST(d AS STRING)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END)"
        for p in range(n_planes)
    )
    table_keys = ", ".join(
        "'t{t}|' || ".format(t=t)
        + " || ".join(
            f"(CASE WHEN list_dot_product(emb, planes[{t * LSH_BITS_PER_TABLE + j + 1}]) >= 0 THEN '1' ELSE '0' END)"
            for j in range(LSH_BITS_PER_TABLE)
        )
        for t in range(LSH_TABLES)
    )
    return f"""WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, [{planes}] AS planes FROM embeddings
),
eb AS (
  SELECT vec_id, emb, unnest([{table_keys}]) AS bucket FROM e0
),
q AS (
  SELECT vec_id AS query_id, emb AS q_emb, bucket FROM eb WHERE vec_id < {N_QUERIES}
),
cand AS (
  SELECT DISTINCT q.query_id, eb.vec_id AS neighbor_id
  FROM eb JOIN q USING (bucket) WHERE eb.vec_id <> q.query_id
),
qe AS (SELECT vec_id AS query_id, emb AS q_emb FROM e0 WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT c.query_id, c.neighbor_id, {_COSINE} AS cosine
  FROM cand c
  JOIN e0 e ON e.vec_id = c.neighbor_id
  JOIN qe q ON q.query_id = c.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}"""


def ann_ivf_topk_sql() -> str:
    """IVF oracle: same deterministic quantizer (centroid c = embedding of
    vec_id c), same rounded-cosine tie-break, flat SQL."""
    from .operators.ann import IVF_CENTROIDS, IVF_PROBES

    cent_cos = """
round(CASE WHEN sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(cent.c_emb, cent.c_emb)) = 0 THEN 0.0
      ELSE list_dot_product(e.emb, cent.c_emb)
           / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(cent.c_emb, cent.c_emb))) END, 6)
"""
    return f"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
cent AS (
  SELECT vec_id AS list_id, emb AS c_emb FROM e WHERE vec_id < {IVF_CENTROIDS}
),
ac AS (
  SELECT e.vec_id, e.emb, cent.list_id, {cent_cos} AS c
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, emb, list_id FROM ac
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, list_id) = 1
),
probe AS (
  SELECT vec_id AS query_id, list_id FROM ac WHERE vec_id < {N_QUERIES}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, list_id) <= {IVF_PROBES}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN assigned a USING (list_id) WHERE a.vec_id <> p.query_id
),
qe AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT c.query_id, c.neighbor_id, {_COSINE} AS cosine
  FROM cand c
  JOIN e ON e.vec_id = c.neighbor_id
  JOIN qe q ON q.query_id = c.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}"""


# ---------------------------------------------------------------------------
# iterative struct extraction (P6) + dropped-bucket accounting
# ---------------------------------------------------------------------------


def extract_iterative_sql() -> str:
    from .operators.text_analysis import QUALIFIER_WORDS, UNIT_WORDS

    qual = _stoplist_sql(QUALIFIER_WORDS)
    unit = _stoplist_sql(UNIT_WORDS)

    def peel_cte(name: str, src: str, out: str, cond: str, carried: list[str]) -> str:
        carry = ", ".join(carried)
        carry = carry + ", " if carry else ""
        return f"""{name} AS (
  SELECT doc_id, {carry}
         CASE WHEN len(t) > 0 AND {cond} THEN t[-1] END AS {out},
         CASE WHEN len(t) > 0 AND {cond} THEN t[1:len(t)-1] ELSE t END AS t
  FROM {src}
)"""

    return _assemble(
        """SELECT doc_id, qual1, qual2, unit, tail_num,
       t[-1] AS tail_token, CAST(len(t) AS INT) AS rest_n
FROM it4""",
        NORM_DOCS_CTE,
        f"it0 AS (SELECT doc_id, {_TOKS} AS t FROM norm_docs)",
        peel_cte("it1", "it0", "qual1", f"list_contains({qual}, t[-1])", []),
        peel_cte("it2", "it1", "qual2", f"list_contains({qual}, t[-1])", ["qual1"]),
        peel_cte("it3", "it2", "unit", f"list_contains({unit}, t[-1])", ["qual1", "qual2"]),
        peel_cte(
            "it4", "it3", "tail_num", "regexp_matches(t[-1], '^[0-9]+$')",
            ["qual1", "qual2", "unit"],
        ),
    )


def dropped_buckets_sql() -> str:
    n_bands = SIMHASH_BITS // SIMHASH_BAND_CHARS
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, '{b}|' || substr(simhash, {b * SIMHASH_BAND_CHARS + 1}, {SIMHASH_BAND_CHARS}) AS bucket FROM simhash"
        for b in range(n_bands)
    )
    return _assemble(
        f"""SELECT 'minhash_lsh' AS family, * FROM ({over_cap_sql("doc_bands", "bucket", MAX_BUCKET, "bucket_n")})
UNION ALL
SELECT 'simhash' AS family, * FROM ({over_cap_sql("sh_buckets", "bucket", MAX_BUCKET, "bucket_n")})""",
        NORM_DOCS_CTE,
        DOC_SHINGLES_CTE,
        _doc_bands_cte(),
        _SIMHASH_CTE,
        f"sh_buckets AS (\n  {band_selects}\n)",
    )


def _emb_bucket_ctes(dim: int) -> str:
    """e0 + eb CTE text shared by the embedding dedup oracle and its
    dropped-buckets accounting twin (identical plane/bucket math)."""
    n_planes = LSH_TABLES * LSH_BITS_PER_TABLE
    planes = ", ".join(
        f"list_transform(range(0, {dim}), d -> CASE WHEN substr(md5('{p}' || '|' || CAST(d AS STRING)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END)"
        for p in range(n_planes)
    )
    table_keys = ", ".join(
        "'t{t}|' || ".format(t=t)
        + " || ".join(
            f"(CASE WHEN list_dot_product(emb, planes[{t * LSH_BITS_PER_TABLE + j + 1}]) >= 0 THEN '1' ELSE '0' END)"
            for j in range(LSH_BITS_PER_TABLE)
        )
        for t in range(LSH_TABLES)
    )
    return f"""e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, [{planes}] AS planes FROM embeddings
),
eb AS (
  SELECT vec_id, unnest([{table_keys}]) AS bucket FROM e0
)"""


def embedding_dropped_sql(dim: int) -> str:
    from .operators.ann import EMB_MAX_BUCKET

    return f"""WITH {_emb_bucket_ctes(dim)}
{over_cap_sql("eb", "bucket", EMB_MAX_BUCKET, "bucket_n")}"""


def embedding_dup_sql(dim: int) -> str:
    from .operators.ann import EMB_COSINE_DUP, EMB_MAX_BUCKET

    cos = """
round(CASE WHEN sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)) = 0 THEN 0.0
      ELSE list_dot_product(a.emb, b.emb)
           / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) END, 6)
"""
    return f"""WITH {_emb_bucket_ctes(dim)},
{capped_pairs_cte("cand", "eb", "bucket", "vec_id", EMB_MAX_BUCKET, "vec_id")}
SELECT c.vec_id_a, c.vec_id_b, {cos} AS cosine, {cos} >= {EMB_COSINE_DUP} AS is_dup
FROM cand c
JOIN e0 a ON a.vec_id = c.vec_id_a
JOIN e0 b ON b.vec_id = c.vec_id_b"""


def cap_accounting_sql(dim: int) -> str:
    """Unified never-silent cap accounting across all four capped surfaces.

    One row per key a quadratic-bounding cap dropped or skipped, tagged by
    ``family``: ER block-size cap, both doc-sketch bucket caps, the
    substring-index df cap, and the embedding-LSH bucket cap. Each branch
    wraps the standalone oracle of its family, so the merged query can never
    drift from the per-family SQL.
    """
    from . import oracle

    return f"""SELECT 'block_cap' AS family, block_key AS key,
       block_n AS group_n, pairs_dropped
FROM ({oracle.dropped_blocks_sql()})
UNION ALL
SELECT family, bucket AS key, bucket_n AS group_n, pairs_dropped
FROM ({dropped_buckets_sql()})
UNION ALL
SELECT 'substring_df' AS family, key, df AS group_n, pairs_dropped
FROM ({oracle.index_over_cap_sql()})
UNION ALL
SELECT 'embedding_lsh' AS family, bucket AS key, bucket_n AS group_n, pairs_dropped
FROM ({embedding_dropped_sql(dim)})"""


def multimodal_features_sql() -> str:
    """Closed-form re-derivation of the six-container decode output.

    Every synthesis parameter in ``data/media.py`` is a pure function of
    doc_id (SYNTH_DIMS/SYNTH_MS/SYNTH_FORMATS — imported here, single
    source of truth), so the expected decode result is plain arithmetic:
    this oracle never runs the Python decoders. For the PNG branch the
    per-row luma is ``(doc_id + r) % 256`` with height <= 14, so the
    wrapped-sum / max / zero-row-count close forms exactly (the sequence
    wraps past 255 at most once; ``wrap`` counts wrapped rows). Every row
    is constant, so the decoder's pixel sums are multiples of the width
    and its pixel-denominator stats equal these row-denominator ones. No
    denominator <= 14 has an exact half at 6 decimals, so DuckDB's
    ``round`` here equals the decoder's integer half-up ``_stats_round6``.

    The GIF branch re-derives the pixel stats from the same per-row
    ``(doc_id + r) % 256`` law as PNG (the LZW round-trip is lossless and
    the palette is the grayscale identity, so decoded luma follows the law
    exactly); integer half-up rounding on the row denominator — identical
    to ``_gif``'s pixel-denominator form because the common width
    factor cancels inside the floor division.

    The WAV branch re-derives the PCM sample stats the same way: samples
    follow the identical ``(doc_id + i) % 256`` law over ``n = 8 * ms``
    bytes, so the sum is ``full_cycles * 32640`` plus the same wrapped
    remainder form, and the zero count places the first zero at
    ``(256 - s) % 256`` then every 256 samples. With n up to ~32k exact
    rounding ties ARE reachable, so both engines round half-up in integer
    arithmetic (``_stats_round6``) — tie-free and bit-identical.
    """
    from .data.media import SYNTH_DIMS, SYNTH_MS

    def dim(spec: tuple[int, int, int]) -> str:
        base, mod, div = spec
        src = "doc_id" if div == 1 else f"(doc_id // {div})"
        return f"{base} + {src} % {mod}"

    def ms(spec: tuple[int, int, int]) -> str:
        base, mod, step = spec
        return f"{base} + (doc_id % {mod}) * {step}"

    pw, ph = (dim(s) for s in SYNTH_DIMS["png"])
    jw, jh = (dim(s) for s in SYNTH_DIMS["jpeg"])
    gw, gh = (dim(s) for s in SYNTH_DIMS["gif"])
    mw, mh = (dim(s) for s in SYNTH_DIMS["mp4"])
    return f"""WITH m AS (
  SELECT doc_id, doc_id % 6 AS k, doc_id % 256 AS s,
         {pw} AS pw, {ph} AS ph, {gh} AS gh, {jh} AS jh,
         CASE doc_id % 6 WHEN 3 THEN 8 * ({ms(SYNTH_MS["wav"])})
                         WHEN 4 THEN 8 * ({ms(SYNTH_MS["flac"])})
                         WHEN 5 THEN CASE WHEN (doc_id // 6) % 2 = 1
                                          THEN 8 * ({ms(SYNTH_MS["mp4"])})
                                          ELSE 0 END
                         ELSE 0 END AS wn
  FROM documents
), p AS (
  SELECT *,
         GREATEST(0, s + ph - 256) AS wrap,
         GREATEST(0, s + gh - 256) AS gwrap,
         (jh + 7) // 8 AS jbh,
         jh - 8 * ((jh + 7) // 8 - 1) AS jlv,
         wn // 256 AS cyc, wn % 256 AS rem,
         GREATEST(0, s + wn % 256 - 256) AS wrap2,
         (256 - s) % 256 AS i0
  FROM m
), w AS (
  SELECT *,
         cyc * 32640 + rem * s + (rem * (rem - 1)) // 2 - 256 * wrap2 AS wsum,
         CASE WHEN i0 >= wn THEN 0 ELSE 1 + (wn - 1 - i0) // 256 END AS wzero,
         gh * s + (gh * (gh - 1)) // 2 - 256 * gwrap AS gsum,
         CASE WHEN s = 0 OR GREATEST(0, s + gh - 256) > 0 THEN 1 ELSE 0 END AS gzero,
         8 * ((jbh - 1) * s + ((jbh - 1) * (jbh - 2)) // 2
              - 256 * GREATEST(0, s + jbh - 1 - 256))
           + jlv * ((s + jbh - 1) % 256) AS jtotal,
         GREATEST(0, s + jbh - 256) AS jwrapall,
         CASE WHEN s = 0 THEN CASE WHEN jbh = 1 THEN jlv ELSE 8 END
              WHEN GREATEST(0, s + jbh - 256) > 0 THEN
                   CASE WHEN 256 - s = jbh - 1 THEN jlv ELSE 8 END
              ELSE 0 END AS jzvis
  FROM p
)
SELECT
  doc_id AS media_id,
  CASE k WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
         WHEN 3 THEN 'wav' WHEN 4 THEN 'flac' ELSE 'mp4' END AS kind,
  CAST(CASE k WHEN 0 THEN pw WHEN 1 THEN {jw} WHEN 2 THEN {gw}
              WHEN 5 THEN CASE WHEN (doc_id // 6) % 2 = 1 THEN 0 ELSE {mw} END
              ELSE 0 END AS INT) AS width,
  CAST(CASE k WHEN 0 THEN ph WHEN 1 THEN {jh} WHEN 2 THEN {gh}
              WHEN 5 THEN CASE WHEN (doc_id // 6) % 2 = 1 THEN 0 ELSE {mh} END
              ELSE 0 END AS INT) AS height,
  CAST(CASE k WHEN 3 THEN {ms(SYNTH_MS["wav"])}
              WHEN 4 THEN {ms(SYNTH_MS["flac"])}
              WHEN 5 THEN {ms(SYNTH_MS["mp4"])} ELSE 0 END AS INT) AS duration_ms,
  CASE WHEN k = 0 THEN round(
      (ph * s + (ph * (ph - 1)) // 2 - 256 * wrap) / CAST(ph AS DOUBLE), 6)
       WHEN k = 1 THEN ((2 * jtotal * 1000000 + jh) // (2 * jh)) / 1000000.0
       WHEN k = 2 THEN ((2 * gsum * 1000000 + gh) // (2 * gh)) / 1000000.0
       WHEN k IN (3, 4, 5) AND wn > 0
       THEN ((2 * wsum * 1000000 + wn) // (2 * wn)) / 1000000.0
  END AS mean_luma,
  CASE WHEN k = 0 THEN
      CASE WHEN wrap > 0 THEN 255 ELSE s + ph - 1 END
       WHEN k = 1 THEN
      CASE WHEN jwrapall > 0 THEN 255 ELSE s + jbh - 1 END
       WHEN k = 2 THEN
      CASE WHEN gwrap > 0 THEN 255 ELSE s + gh - 1 END
       WHEN k IN (3, 4, 5) AND wn > 0 THEN
      CASE WHEN cyc > 0 OR wrap2 > 0 THEN 255 ELSE s + rem - 1 END
  END AS max_luma,
  CASE WHEN k = 0 THEN round(
      (ph - CASE WHEN s = 0 OR wrap > 0 THEN 1 ELSE 0 END) / CAST(ph AS DOUBLE), 6)
       WHEN k = 1 THEN ((2 * (jh - jzvis) * 1000000 + jh) // (2 * jh)) / 1000000.0
       WHEN k = 2 THEN ((2 * (gh - gzero) * 1000000 + gh) // (2 * gh)) / 1000000.0
       WHEN k IN (3, 4, 5) AND wn > 0
       THEN ((2 * (wn - wzero) * 1000000 + wn) // (2 * wn)) / 1000000.0
  END AS nonzero_frac
FROM w"""
