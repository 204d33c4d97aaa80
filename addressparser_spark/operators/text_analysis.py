"""Text-analysis operators over the documents table (training-data pipeline).

All pure Catalyst expressions (regexp_count / length / array ops) — no
Python in any of these paths. Analog slot: the reference's scalar string
function family (``RegexPatterns.cs:5-66``, ``Parser.cs:201-299``), re-aimed
at corpus curation: language ID, quality scoring, token accounting, and
content fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import normalize_col
from ..functions.tokens import tokens_col

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this",
]
RU_STOPWORDS = ["и", "в", "на", "с", "по", "не", "что", "это", "как", "из"]

CYRILLIC_PATTERN = "[а-яё]"
WORD_PATTERN = "[A-Za-zА-Яа-яЁё]+"
# BPE-ish segmentation: letter runs, digit runs, single other non-space marks
BPE_PATTERN = "[A-Za-zА-Яа-яЁё]+|[0-9]+|[^A-Za-zА-Яа-яЁё0-9\\s]"
FINGERPRINT_NGRAM = 5
FINGERPRINT_K = 4


# Gopher-style document-quality rules (Rae et al. 2021, public appendix A):
# symbol-to-word ratio, mean-word-length band, minimum stop-word evidence.
# The pattern is Java-regex/RE2-common (alternation only) so the Spark
# expression and the DuckDB twin compile the same automaton; '...' is listed
# before '…' handling is unnecessary since they cannot overlap.
GOPHER_SYMBOL_PATTERN = "#|\\.\\.\\.|…"
GOPHER_MEAN_WORD_LEN_LO = 3.0
GOPHER_MEAN_WORD_LEN_HI = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOPWORD_HITS = 2

# PII patterns, intersection of Java-regex and RE2 syntax (no lookaround)
# so the Spark expression and the DuckDB oracle compile the same automaton.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL = r"https?://[^\s]+"
PII_NUMBER = r"[0-9]{7,}"


def text_scrub(docs: DataFrame) -> DataFrame:
    """PII masking: emails/URLs/long digit runs -> placeholder tokens.

    Standard pre-training scrub pass. Counts are measured on the raw text;
    replacement runs URL -> email -> number (a URL can contain both an
    email-shaped substring and digit runs, so the most specific pattern
    masks first). Pure Catalyst regexp expressions — row-local, no shuffle,
    whole-stage codegen'd; the oracle parity run over the clean synthetic
    corpus doubles as a zero-false-positive check (every count 0 and
    ``text_scrubbed == text`` must hash-match exactly).
    """
    text = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, PII_URL, "<url>"),
            PII_EMAIL, "<email>"),
        PII_NUMBER, "<number>")
    return docs.select(
        "doc_id",
        F.regexp_count(text, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(text, F.lit(PII_URL)).alias("n_urls"),
        F.regexp_count(text, F.lit(PII_NUMBER)).alias("n_numbers"),
        scrubbed.alias("text_scrubbed"),
    )


def text_repetition(docs: DataFrame) -> DataFrame:
    """Per-doc repetition/boilerplate features (Gopher-style quality rules).

    Training-data pipelines filter documents whose text is dominated by
    repeated content (templated boilerplate, keyword stuffing, copy loops).
    Three standard signals, all pure Catalyst array expressions (no explode,
    no shuffle — a row-local map over the scan, partition-parallel at any
    scale):

    - ``distinct_token_ratio``  |set(tokens)| / n
    - ``top_token_frac``        occurrences of the most frequent token / n
    - ``dup_bigram_frac``       1 - |set(bigrams)| / (n-1)

    ``flagged`` applies Gopher-like thresholds (top token > 30% of the doc,
    or > 50% of bigrams duplicated). Cost note: top_token_frac is
    O(distinct·n) per row — bounded by the ~110-token docs here; for long
    documents swap in the explode+groupBy formulation (same values, one
    shuffle).
    """
    toks = tokens_col(normalize_col(F.col("text")))
    n = F.size(toks)
    distinct_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(toks)) / n
    )
    top_frac = F.when(n == 0, F.lit(0.0)).otherwise(
        F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda d: F.size(F.filter(toks, lambda t: t == d)),
            )
        )
        / n
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)),
    )
    dup_bigram = F.when(n < 2, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(bigrams)) / F.size(bigrams)
    )
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(distinct_ratio, 6).alias("distinct_token_ratio"),
        F.round(top_frac, 6).alias("top_token_frac"),
        F.round(dup_bigram, 6).alias("dup_bigram_frac"),
        ((top_frac > 0.3) | (dup_bigram > 0.5)).alias("flagged"),
    )


def text_quality(docs: DataFrame) -> DataFrame:
    """Per-doc quality features + composite score in [0,1] + Gopher rules.

    The Gopher columns (Rae et al. 2021 appendix A subset) extend the
    original length/punct/stopword ladder: ``symbol_word_ratio`` ('#'/'...'
    per token), ``mean_word_len_ok`` (mean token length inside the
    [3, 10] band), ``stopword_hits`` (absolute stop-word evidence), and
    ``gopher_flagged`` OR-ing the three rule violations. All pure Catalyst,
    row-local, no shuffle; the DuckDB twin is built from the same module
    constants.
    """
    text = F.col("text")
    norm = normalize_col(text)
    toks = tokens_col(norm)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS + RU_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    punct = F.length(F.regexp_replace(text, "[A-Za-zА-Яа-яЁё0-9\\s]", ""))
    digits = F.length(F.regexp_replace(text, "[^0-9]", ""))
    avg_tok = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n_tokens
    )
    stop_ratio = F.when(n_tokens == 0, F.lit(0.0)).otherwise(n_stop / n_tokens)
    punct_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(punct / n_chars)
    digit_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(digits / n_chars)
    symbols = F.regexp_count(text, F.lit(GOPHER_SYMBOL_PATTERN))
    symbol_ratio = F.when(n_tokens == 0, F.lit(0.0)).otherwise(symbols / n_tokens)
    word_len_ok = (avg_tok >= GOPHER_MEAN_WORD_LEN_LO) & (
        avg_tok <= GOPHER_MEAN_WORD_LEN_HI
    )
    gopher_flagged = (
        ~word_len_ok
        | (symbol_ratio > GOPHER_MAX_SYMBOL_RATIO)
        | (n_stop < GOPHER_MIN_STOPWORD_HITS)
    )
    # simple monotone quality ladder: long enough, mostly letters, has stopwords
    score = (
        F.least(n_tokens / 50.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2
        + (1.0 - F.least(punct_ratio * 4.0, F.lit(1.0))) * 0.2
        + (1.0 - F.least(digit_ratio * 4.0, F.lit(1.0))) * 0.2
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        n_stop.alias("stopword_hits"),
        word_len_ok.alias("mean_word_len_ok"),
        gopher_flagged.alias("gopher_flagged"),
        F.round(score, 6).alias("quality_score"),
    )


def text_langid(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: Cyrillic-character share + stopword votes."""
    low = F.lower(F.col("text"))
    cyr = F.regexp_count(low, F.lit(CYRILLIC_PATTERN))
    wordish = F.regexp_count(low, F.lit("[a-zа-яё]"))
    cyr_ratio = F.when(wordish == 0, F.lit(0.0)).otherwise(cyr / wordish)
    toks = tokens_col(normalize_col(F.col("text")))
    en_hits = F.size(F.filter(toks, lambda t: F.array_contains(F.array(*[F.lit(w) for w in EN_STOPWORDS]), t)))
    ru_hits = F.size(F.filter(toks, lambda t: F.array_contains(F.array(*[F.lit(w) for w in RU_STOPWORDS]), t)))
    pred = (
        F.when(cyr_ratio >= 0.5, "ru")
        .when((cyr_ratio < 0.5) & (ru_hits > en_hits), "ru")
        .otherwise("en")
    )
    return docs.select(
        "doc_id",
        F.round(cyr_ratio, 6).alias("cyrillic_ratio"),
        en_hits.alias("en_stopword_hits"),
        ru_hits.alias("ru_stopword_hits"),
        pred.alias("lang_pred"),
        "lang",
        (pred == F.col("lang")).alias("agrees"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens, word tokens, and a BPE-ish subword-unit count."""
    text = F.col("text")
    ws = F.size(F.filter(F.split(text, "\\s+"), lambda t: t != ""))
    words = F.regexp_count(text, F.lit(WORD_PATTERN))
    bpe = F.regexp_count(text, F.lit(BPE_PATTERN))
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        words.alias("word_tokens"),
        bpe.alias("bpe_units"),
        F.round(F.when(ws == 0, F.lit(0.0)).otherwise(bpe / ws), 6).alias("bpe_per_ws_token"),
    )


# Typed component classes for the iterative peel (the corpus vocabulary's
# qualifier-ish and unit-ish words — the analog of housing/building/letter)
QUALIFIER_WORDS = ["dup", "slow", "fast", "small", "big"]
UNIT_WORDS = ["table", "row", "column", "line", "part", "batch"]


def extract_iterative(docs: DataFrame) -> DataFrame:
    """P6 proper: iterative right-to-left typed peel-off with mutation.

    Analog of ``GetHouseInfo`` (``Parser.cs:536-615``): the reference peels
    typed components off the END of the string one at a time — extract a
    component *if its type matches*, strip it, then try the next type on the
    REMAINDER. Each stage's input is the previous stage's stripped output
    (that is what distinguishes this from independent field extraction à la
    ``text_extract_struct``). Bounded iterations (qualifier, qualifier,
    unit, trailing number), all Catalyst array/when expressions.

    Returns (doc_id, qual1, qual2, unit, tail_num, tail_token, rest_n).
    """
    d = docs.select(
        "doc_id", tokens_col(normalize_col(F.col("text"))).alias("t0")
    )
    qual = F.array(*[F.lit(w) for w in QUALIFIER_WORDS])
    unit = F.array(*[F.lit(w) for w in UNIT_WORDS])

    def peel(frame: DataFrame, src: str, dst: str, out: str, cls) -> DataFrame:
        t = F.col(src)
        last = F.try_element_at(t, F.lit(-1))
        hit = F.coalesce(F.array_contains(cls, last), F.lit(False))
        frame = frame.withColumn(out, F.when(hit, last))
        return frame.withColumn(
            dst, F.when(hit, F.slice(t, 1, F.size(t) - 1)).otherwise(t)
        )

    d = peel(d, "t0", "t1", "qual1", qual)
    d = peel(d, "t1", "t2", "qual2", qual)
    d = peel(d, "t2", "t3", "unit", unit)
    # generic trailing-number peel (type class: digits) on the remainder
    last3 = F.try_element_at(F.col("t3"), F.lit(-1))
    num_hit = F.coalesce(last3.rlike("^[0-9]+$"), F.lit(False))
    d = d.withColumn("tail_num", F.when(num_hit, last3))
    d = d.withColumn(
        "t4", F.when(num_hit, F.slice(F.col("t3"), 1, F.size("t3") - 1)).otherwise(F.col("t3"))
    )
    return d.select(
        "doc_id",
        "qual1",
        "qual2",
        "unit",
        "tail_num",
        F.try_element_at(F.col("t4"), F.lit(-1)).alias("tail_token"),
        F.size("t4").alias("rest_n"),
    )


CHUNK_SIZE = 150


def chunk_split(docs: DataFrame, size: int = CHUNK_SIZE) -> DataFrame:
    """F7 literal: split text into fixed-size char chunks, one row each.

    The reference chunks over-long queries into 150-char pieces and parses
    each piece separately (``Parser.cs:43-57``). Pure Catalyst: posexplode
    over a sequence of substring offsets — linear, no Python.

    Returns (doc_id, chunk_idx, chunk); short docs yield exactly one chunk.
    """
    text = F.col("text")
    ln = F.length(text)
    offsets = F.sequence(F.lit(1), F.greatest(ln, F.lit(1)), F.lit(size))
    d = docs.select(
        "doc_id", text.alias("text"),
        F.posexplode(offsets).alias("chunk_idx", "off"),
    )
    return d.select(
        "doc_id", "chunk_idx",
        F.col("text").substr(F.col("off"), F.lit(size)).alias("chunk"),
    )


def chunked_extract(docs: DataFrame, size: int = CHUNK_SIZE) -> DataFrame:
    """F7 complete shape: chunk-split -> per-chunk parse -> per-doc merge.

    Analog of ``ParseAddress`` (``Parser.cs:58-70``): every 150-char chunk is
    parsed independently, then ``GetMainAddress`` keeps one winner per query.
    Here the per-chunk parse is the trailing-number peel + token count, and
    the merge keeps the chunk with the MOST word tokens (the reference's
    "main address" = most-specific parse), tie-broken by chunk_idx — one
    window argmax, no shuffle beyond the doc_id grouping.
    """
    from pyspark.sql import Window

    chunks = chunk_split(docs, size)
    parsed = chunks.select(
        "doc_id", "chunk_idx",
        F.regexp_count(F.col("chunk"), F.lit(WORD_PATTERN)).alias("chunk_words"),
        F.regexp_extract(F.col("chunk"), r"(\d+)\s*$", 1).alias("chunk_tail_num"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("chunk_words"), F.asc("chunk_idx")
    )
    return (
        parsed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("chunk_idx").alias("main_chunk"),
            "chunk_words",
            F.nullif(F.col("chunk_tail_num"), F.lit("")).cast("bigint").alias("tail_num"),
        )
    )


# F4 literal: the reference's kilometer pattern digit-prefix + unit token,
# rewritten into the string as separated tokens (``RegexPatterns.cs:26``,
# ``Parser.cs:272-276``). Both the Latin and Cyrillic unit spellings, since
# the corpus vocabulary is mixed.
KILOMETER_PATTERN = r"(?i)(?:^|\s)(\d+)\s*(km|км)(?:\s|$)"


def kilometer_parse(docs: DataFrame) -> DataFrame:
    """F4 proper: regexp capture of '<n> km' + numeric cast + rewrite.

    Returns (doc_id, km_n, text_rewritten): ``km_n`` is the captured number
    cast to bigint (null when absent), ``text_rewritten`` has the match
    normalized to ' <n> km ' — the reference's Replace+Trim
    (``Parser.cs:274-275``) as one Catalyst regexp_replace.
    """
    text = F.col("text")
    n = F.regexp_extract(text, KILOMETER_PATTERN, 1)
    return docs.select(
        "doc_id",
        F.nullif(n, F.lit("")).cast("bigint").alias("km_n"),
        F.trim(
            F.regexp_replace(text, KILOMETER_PATTERN, r" $1 km ")
        ).alias("text_rewritten"),
    )


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """Bottom-k sketch of char-n-gram md5s: a compact content fingerprint.

    Two docs sharing most of their text share most of their bottom-k set —
    the winnowing analog with an order-free definition that any engine can
    reproduce (min-k of md5s, lexicographic).
    """
    # normalize once into a column: the gram lambda references it per element
    d = docs.select("doc_id", normalize_col(F.col("text")).alias("norm_text"))
    norm = F.col("norm_text")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - FINGERPRINT_NGRAM + 1, F.lit(1))),
        lambda i: F.md5(norm.substr(i, F.lit(FINGERPRINT_NGRAM))),
    )
    bottom = F.slice(F.array_sort(F.array_distinct(grams)), 1, FINGERPRINT_K)
    return d.select(
        "doc_id",
        F.array_join(bottom, "|").alias("fingerprint"),
    )
