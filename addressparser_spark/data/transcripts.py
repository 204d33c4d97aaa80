"""Deterministic transcripts derivation from the ``documents`` table.

The engine's primary input is a table of multi-turn conversation/agent
transcripts ``(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)``. The sandbox ships no such table, so we derive
one *deterministically* from ``documents.parquet`` — twice, with identical
semantics:

- :func:`transcripts_df`  — Spark DataFrame (the engine input)
- :data:`TRANSCRIPTS_CTE_DUCKDB` — DuckDB CTE (the driver-oracle input)

Derivation (sf-independent, pure arithmetic on ``doc_id``):

- 5 consecutive docs form one conversation: ``conv_num = doc_id // 5``,
  ``turn_idx = doc_id % 5``.
- ``role``: ``doc_id%2==0`` -> 'user' (the deliberately hot key, ~50% of rows,
  exercising skew handling), ``doc_id%4==1`` -> 'assistant', else 'tool'.
- ``tool`` non-null only for role='tool'.
- ``ts`` = 2024-01-01T00:00:00Z + doc_id minutes.

Ground-truth duplicate injection (the labeled clusters the pipeline must
recover — analog of the reference resolving noisy re-spellings of one address
to one ``Addresses.Id``, ``Db/DataContextBase_Address.cs:359-440``): every
even-numbered conversation emits one variant conversation under a new id:

- ``conv_num % 6 == 0`` -> ``*_v1``: upper-cased text        (exact dup after normalize)
- ``conv_num % 6 == 2`` -> ``*_v2``: doubled spaces + ' ???' (exact dup after normalize)
- ``conv_num % 6 == 4`` -> ``*_v3``: first 3 turns only      (resumption: near-dup)

Adversarial hard-negative injection (evidences the PRECISION side of the
F1 metric — a blocking stage that over-merges must be caught by labeled
negatives, not just by the organic near-absence of key collisions):

- ``conv_num % 6 == 1`` -> ``*_d1``: first 2 turns identical (same prefix
  blocking key -> guaranteed candidate pair), later turns scrambled
  (see :func:`_distractor_text`) -> must NOT match. Ground truth keeps
  ``*_d1`` as its OWN entity.

So ground truth: ``conv_XXXXXX`` and ``conv_XXXXXX_vK`` are the same entity;
``conv_XXXXXX_d1`` is its own entity; cluster representative = the base
conv_id (min by string order, since ``x < x_v1``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TURNS_PER_CONV = 5
_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z

# Distractor prefix window. MUST equal operators.blocking.PREFIX_TURNS (not
# imported here to keep data/ free of operators/ imports; synced by
# tests/test_distractors.py): the distractor's first DISTRACTOR_PREFIX_TURNS
# turns stay byte-identical to its base so the pair is GUARANTEED to share the
# prefix blocking key and enter the candidate set as a labeled hard negative.
DISTRACTOR_PREFIX_TURNS = 2


def _distractor_text():
    """Per-turn text of the ``_d1`` hard-negative distractor.

    Turns ``< DISTRACTOR_PREFIX_TURNS``: identical to the base turn (forces
    prefix-key co-blocking). Later turns: two junk streams of the same turn —
    char-reversed text plus vowel->digit translated text. Both survive
    normalization, both are token-disjoint from the corpus vocabulary (every
    vocab word contains a vowel; only the palindromic 'a' round-trips, and a
    3-token shingle can't be built from it), so the shared shingle region is
    pinned to the first two turns. Worst-case conv-level containment is
    |S(t0,t1)| / (|S(t0,t1)| + 2*|S(t2..t4)|) <= ~0.8 even at the extreme
    turn-length mix in the corpus (48..553 chars) — strictly below the 0.9
    near-dup/resumption match thresholds, so a correct scorer must REJECT
    every (base, _d1) candidate pair: they are the labeled negatives the
    precision term of the BASELINE F1 metric is evidenced on.
    """
    junk = F.concat(
        F.reverse(F.col("text")), F.lit(" "),
        F.translate(F.col("text"), "aeiou", "01234"),
    )
    return F.when(F.col("turn_idx") < DISTRACTOR_PREFIX_TURNS, F.col("text")).otherwise(junk)

# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def _base_turns(docs: DataFrame) -> DataFrame:
    d = F.col("doc_id")
    conv_num = F.floor(d / TURNS_PER_CONV).cast("bigint")
    return docs.select(
        conv_num.alias("conv_num"),
        F.concat(F.lit("conv_"), F.lpad(conv_num.cast("string"), 6, "0")).alias("conv_id"),
        (d % TURNS_PER_CONV).cast("int").alias("turn_idx"),
        F.when(d % 2 == 0, "user")
        .when(d % 4 == 1, "assistant")
        .otherwise("tool")
        .alias("role"),
        F.col("text"),
        F.when(d % 4 == 3, F.when(d % 8 == 3, "bash").otherwise("search")).alias("tool"),
        F.timestamp_seconds(F.lit(_EPOCH_2024) + d * 60).alias("ts"),
    )


def transcripts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's input table, derived from ``{sf_dir}/documents.parquet``.

    ONE parquet scan: each base row emits an array of (base + conditional
    variant) output structs, exploded once — the earlier 4-branch union
    scanned ``documents`` four times (a round-2 PLAN_AUDIT known-non-ideal,
    now fixed). Values are identical to the DuckDB UNION ALL oracle below;
    only the Spark plan shape differs.
    """
    from ..sources.tables import read_parallel

    # tiny-input parallelism guard (see read_parallel): one small parquet
    # file = ONE scan partition, serializing all per-turn expression work
    # — measured 3x on the sf0.1 profile build; a no-op at scale
    docs = read_parallel(spark, f"{sf_dir}/documents.parquet")
    base = _base_turns(docs)
    conv_num, turn_idx = F.col("conv_num"), F.col("turn_idx")

    def row(conv_id, text):
        return F.struct(
            conv_id.alias("conv_id"),
            turn_idx.alias("turn_idx"),
            F.col("role").alias("role"),
            text.alias("text"),
            F.col("tool").alias("tool"),
            F.col("ts").alias("ts"),
        )

    rows = F.array(
        row(F.col("conv_id"), F.col("text")),
        F.when(conv_num % 6 == 0,
               row(F.concat(F.col("conv_id"), F.lit("_v1")), F.upper(F.col("text")))),
        F.when(conv_num % 6 == 2,
               row(F.concat(F.col("conv_id"), F.lit("_v2")),
                   F.concat(F.regexp_replace(F.col("text"), " ", "  "), F.lit(" ???")))),
        F.when((conv_num % 6 == 4) & (turn_idx < 3),
               row(F.concat(F.col("conv_id"), F.lit("_v3")), F.col("text"))),
        F.when(conv_num % 6 == 1,
               row(F.concat(F.col("conv_id"), F.lit("_d1")), _distractor_text())),
    )
    return (
        base.select(F.explode(F.filter(rows, lambda r: r.isNotNull())).alias("r"))
        .select("r.*")
    )


def truth_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground-truth ``(conv_id, cluster_id)``: variants map to their base conv."""
    t = transcripts_df(spark, sf_dir).select("conv_id").distinct()
    return t.select(
        "conv_id",
        F.regexp_replace("conv_id", "_v[123]$", "").alias("cluster_id"),
    )


def demo_registry(profiles: DataFrame) -> DataFrame:
    """Deterministic partially-populated registry derived from the data.

    Buckets conversations by the first hex char of ``md5(conv_id)``:
    '0'-'3' are registered at full signature strength, '4'-'7' only at
    prefix strength, '8'-'b' only at synonym strength, 'c'-'f' are absent.
    Gives the resolve cascade real work at every stage with zero external
    state — the DuckDB oracle (the ``registry`` CTE of
    ``oracle.resolve_cascade_sql``) rebuilds the identical registry from the
    same parquet.
    """
    from ..operators.resolve import profile_keys

    k = profile_keys(profiles).withColumn(
        "h", F.substring(F.md5(F.col("conv_id")), 1, 1)
    )
    return k.filter(F.col("h") <= "b").select(
        F.md5(F.concat(F.lit("reg|"), F.col("conv_id"))).alias("entity_id"),
        F.col("conv_id").alias("rep_conv_id"),
        F.when(F.col("h") <= "3", F.col("sig")).alias("sig"),
        F.when((F.col("h") >= "4") & (F.col("h") <= "7"), F.col("prefix_key")).alias(
            "prefix_key"
        ),
        F.when(F.col("h") >= "8", F.col("syn_key")).alias("syn_key"),
    )


# ---------------------------------------------------------------------------
# DuckDB side (driver oracle). Semantically identical to transcripts_df.
# ---------------------------------------------------------------------------

_BASE_SQL = f"""
  SELECT CAST(floor(doc_id / {TURNS_PER_CONV}) AS BIGINT) AS conv_num,
         'conv_' || lpad(CAST(CAST(floor(doc_id / {TURNS_PER_CONV}) AS BIGINT) AS STRING), 6, '0') AS conv_id,
         CAST(doc_id % {TURNS_PER_CONV} AS INT) AS turn_idx,
         CASE WHEN doc_id % 2 = 0 THEN 'user'
              WHEN doc_id % 4 = 1 THEN 'assistant'
              ELSE 'tool' END AS role,
         text,
         CASE WHEN doc_id % 4 = 3
              THEN (CASE WHEN doc_id % 8 = 3 THEN 'bash' ELSE 'search' END) END AS tool,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id) MINUTE AS ts
  FROM documents
"""

TRANSCRIPTS_CTE_DUCKDB = f"""
base_turns AS ({_BASE_SQL}),
transcripts AS (
  SELECT conv_id, turn_idx, role, text, tool, ts FROM base_turns
  UNION ALL
  SELECT conv_id || '_v1', turn_idx, role, upper(text), tool, ts
  FROM base_turns WHERE conv_num % 6 = 0
  UNION ALL
  SELECT conv_id || '_v2', turn_idx, role, replace(text, ' ', '  ') || ' ???', tool, ts
  FROM base_turns WHERE conv_num % 6 = 2
  UNION ALL
  SELECT conv_id || '_v3', turn_idx, role, text, tool, ts
  FROM base_turns WHERE conv_num % 6 = 4 AND turn_idx < 3
  UNION ALL
  SELECT conv_id || '_d1', turn_idx, role,
         CASE WHEN turn_idx < 2 THEN text
              ELSE reverse(text) || ' ' || translate(text, 'aeiou', '01234') END,
         tool, ts
  FROM base_turns WHERE conv_num % 6 = 1
)
"""
