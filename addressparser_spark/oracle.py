"""DuckDB-SQL twins of the pipeline stages, for the driver correctness gate.

Every SQL-expressible operator in the engine has an ANSI-SQL equivalent here,
assembled from the same constants as the Spark implementation (NUM_HASHES,
band layout, thresholds...) so the two can't drift silently. The driver runs
the Spark query and this SQL side-by-side on the same parquet and compares
row-count + schema + value hashes.

These strings are *oracles*, not the engine: readability over speed.
"""

from __future__ import annotations

from .data.synonyms import synonym_case_sql
from .data.transcripts import TRANSCRIPTS_CTE_DUCKDB
from .functions.normalize import normalize_sql_duckdb
from .operators.blocking import (
    MERSENNE_61, MINHASH_PARAMS, NUM_HASHES, PREFIX_TURNS, ROWS_PER_BAND, SHINGLE_K,
)
from .operators.pairs import MAX_BLOCK_SIZE
from .operators.scoring import CONTAIN_NEAR, JACCARD_NEAR, JACCARD_PARTIAL, VERDICT_RANK
from .data.stemming import stem_case_sql
from .operators.substring_join import ANCHOR_TOKENS, INDEX_SHINGLE_K, RARE_DF_CAP

NORM_TURNS_CTE = f"""
norm_turns AS (
  SELECT conv_id, turn_idx, role, coalesce(tool, '') AS tool,
         {normalize_sql_duckdb('text')} AS norm_text
  FROM transcripts
)
"""

PROFILES_CTE = f"""
profiles AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         md5(string_agg(role || '#' || tool || '#' || norm_text, '|' ORDER BY turn_idx)) AS sig,
         md5(string_agg(norm_text, '|' ORDER BY turn_idx)
             FILTER (WHERE turn_idx < {PREFIX_TURNS})) AS prefix_key,
         string_agg(norm_text, ' ' ORDER BY turn_idx) AS concat_text
  FROM norm_turns
  GROUP BY conv_id
)
"""


def shingles_sql(toks: str, k: int) -> str:
    """The distinct k-token shingles of the token list ``toks`` (twin of
    ``tokens.distinct_shingles_col``): text with fewer than ``k`` tokens is
    one shingle, and text with no tokens the shingle ``''``."""
    return f"""list_distinct(
           CASE WHEN len({toks}) <= {k} THEN [coalesce(array_to_string({toks}, ' '), '')]
                ELSE list_transform(range(1, len({toks}) - {k - 2}),
                                    i -> array_to_string({toks}[i:i+{k - 1}], ' '))
           END)"""


def minhash_cte(name: str, shingles: str, id_: str, n: int) -> str:
    """CTE ``name(id_, mh_00..)``: the first ``n`` minhashes of each
    ``id_``'s shingles in ``shingles(id_, s)`` (twin of
    ``blocking.minhash_col``) over their 60-bit md5 prefixes ``x`` (twin of
    ``blocking.shingle_hashes``), in HUGEINT so ``a * x`` is exact."""
    cols = ",\n         ".join(
        f"CAST(min(({a}::HUGEINT * x + {b}) % {MERSENNE_61}) AS BIGINT) AS mh_{i:02d}"
        for i, (a, b) in enumerate(MINHASH_PARAMS[:n])
    )
    return f"""{name} AS (
  SELECT {id_},
         {cols}
  FROM (SELECT {id_}, ('0x' || substr(md5(s), 1, 15))::BIGINT AS x FROM {shingles})
  GROUP BY {id_}
)"""


SHINGLES_CTE = f"""
tok_lists AS (
  SELECT conv_id, list_filter(string_split(concat_text, ' '), t -> t <> '') AS toks
  FROM profiles
),
shingle_sets AS (
  SELECT conv_id, {shingles_sql("toks", SHINGLE_K)} AS sh
  FROM tok_lists
),
conv_shingles AS (
  SELECT conv_id, unnest(sh) AS s FROM shingle_sets
)
"""


def _bands_cte() -> str:
    """CTEs ``minhash`` (each conversation's sketch) and ``bands`` (its LSH
    band keys)."""
    selects = []
    for b in range(NUM_HASHES // ROWS_PER_BAND):
        parts = " || '|' || ".join(
            f"mh_{i:02d}" for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
        )
        selects.append(
            f"SELECT conv_id, 'mh{b}' AS src, md5('{b}' || '|' || {parts}) AS block_key FROM minhash"
        )
    return (
        minhash_cte("minhash", "conv_shingles", "conv_id", NUM_HASHES)
        + ",\nbands AS (\n  " + "\n  UNION ALL\n  ".join(selects) + "\n)"
    )


def capped_pairs_cte(name: str, rows: str, key: str, id_: str, cap: int, out: str) -> str:
    """CTEs ``<name>_kept`` and ``<name>``: the distinct ``(<out>_a,
    <out>_b)`` pairs of ``id_`` values that share a ``key`` of ``rows`` with
    at most ``cap`` rows, ``<out>_a < <out>_b`` (twin of
    ``pairs.bucket_pairs``)."""
    return f"""{name}_kept AS (
  SELECT {key}, {id_} FROM {rows}
  WHERE {key} IN (SELECT {key} FROM {rows} GROUP BY {key} HAVING count(*) <= {cap})
),
{name} AS (
  SELECT DISTINCT a.{id_} AS {out}_a, b.{id_} AS {out}_b
  FROM {name}_kept a JOIN {name}_kept b USING ({key})
  WHERE a.{id_} < b.{id_}
)"""


def over_cap_sql(rows: str, key: str, cap: int, n: str) -> str:
    """``(key, <n>, pairs_dropped)`` for the keys of ``rows`` with more than
    ``cap`` rows (twin of ``pairs.over_cap`` with ``n`` renamed)."""
    return f"""SELECT {key}, CAST(count(*) AS BIGINT) AS {n},
       CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS pairs_dropped
FROM {rows} GROUP BY {key} HAVING count(*) > {cap}"""


BLOCKS_CTE = f"""
blocks AS (
  SELECT conv_id, 'sig' AS src, sig AS block_key FROM profiles
  UNION ALL
  SELECT conv_id, 'prefix' AS src, prefix_key AS block_key FROM profiles
  UNION ALL
  SELECT conv_id, src, block_key FROM bands
),
{capped_pairs_cte("cand_pairs", "blocks", "block_key", "conv_id", MAX_BLOCK_SIZE, "conv")}
"""

SCORED_CTE = f"""
scored AS (
  SELECT c.conv_a, c.conv_b,
         round(CASE WHEN len(list_distinct(sa.sh || sb.sh)) = 0 THEN 1.0
               ELSE len(list_intersect(sa.sh, sb.sh))
                    / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) END, 6) AS jaccard,
         round(CASE WHEN least(len(sa.sh), len(sb.sh)) = 0 THEN 1.0
               ELSE len(list_intersect(sa.sh, sb.sh))
                    / CAST(least(len(sa.sh), len(sb.sh)) AS DOUBLE) END, 6) AS containment,
         round(CASE WHEN greatest(length(pa.concat_text[1:96]), length(pb.concat_text[1:96])) = 0 THEN 1.0
               ELSE 1.0 - levenshtein(pa.concat_text[1:96], pb.concat_text[1:96])
                    / CAST(greatest(length(pa.concat_text[1:96]), length(pb.concat_text[1:96])) AS DOUBLE) END, 6) AS lev_sim,
         round(jaro_winkler_similarity(pa.concat_text[1:96], pb.concat_text[1:96]), 6) AS jw,
         pa.sig AS sig_a, pb.sig AS sig_b
  FROM cand_pairs c
  JOIN profiles pa ON pa.conv_id = c.conv_a
  JOIN profiles pb ON pb.conv_id = c.conv_b
  JOIN shingle_sets sa ON sa.conv_id = c.conv_a
  JOIN shingle_sets sb ON sb.conv_id = c.conv_b
),
verdicts AS (
  SELECT conv_a, conv_b, jaccard, containment, lev_sim, jw,
         CASE WHEN sig_a = sig_b THEN 'exact'
              WHEN jaccard >= {JACCARD_NEAR} THEN 'near_dup'
              WHEN containment >= {CONTAIN_NEAR} THEN 'resumption'
              WHEN jaccard >= {JACCARD_PARTIAL} THEN 'partial'
              ELSE 'far' END AS verdict
  FROM scored
)
"""

CLUSTERS_CTE = """
match_edges AS (
  SELECT conv_a AS s, conv_b AS d FROM verdicts
  WHERE verdict IN ('exact', 'near_dup', 'resumption')
),
edges_sym AS (
  SELECT s, d FROM match_edges UNION SELECT d, s FROM match_edges
),
reach AS (
  SELECT s, d FROM edges_sym
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges_sym e ON r.d = e.s WHERE r.s <> e.d
),
clusters AS (
  SELECT p.conv_id,
         least(p.conv_id, coalesce(min(r.d), p.conv_id)) AS cluster_id
  FROM profiles p LEFT JOIN reach r ON r.s = p.conv_id
  GROUP BY p.conv_id
)
"""


def _assemble(final_select: str, *ctes: str) -> str:
    body = ",\n".join(c.strip().rstrip(",") for c in ctes if c.strip())
    return f"WITH RECURSIVE {TRANSCRIPTS_CTE_DUCKDB.strip().rstrip(',')},\n{body}\n{final_select}"


def normalize_turns_sql() -> str:
    return _assemble(
        "SELECT conv_id, turn_idx, role, norm_text FROM norm_turns",
        NORM_TURNS_CTE,
    )


def conv_signatures_sql() -> str:
    return _assemble(
        "SELECT conv_id, n_turns, sig, prefix_key FROM profiles",
        NORM_TURNS_CTE,
        PROFILES_CTE,
    )


def exact_dup_clusters_sql() -> str:
    return _assemble(
        "SELECT conv_id, min(conv_id) OVER (PARTITION BY sig) AS cluster_id FROM profiles",
        NORM_TURNS_CTE,
        PROFILES_CTE,
    )


def minhash_bands_sql() -> str:
    return _assemble(
        "SELECT conv_id, src, block_key FROM bands",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        _bands_cte(),
    )


def block_table_sql() -> str:
    return _assemble(
        "SELECT conv_id, src, block_key FROM blocks",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        _bands_cte(),
        BLOCKS_CTE,
    )


def candidate_pairs_sql() -> str:
    return _assemble(
        "SELECT conv_a, conv_b FROM cand_pairs",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        _bands_cte(),
        BLOCKS_CTE,
    )


def scored_pairs_sql() -> str:
    return _assemble(
        "SELECT conv_a, conv_b, jaccard, containment, lev_sim, jw, verdict FROM verdicts",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        _bands_cte(),
        BLOCKS_CTE,
        SCORED_CTE,
    )


def linkage_clusters_sql() -> str:
    return _assemble(
        "SELECT conv_id, cluster_id FROM clusters",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        _bands_cte(),
        BLOCKS_CTE,
        SCORED_CTE,
        CLUSTERS_CTE,
    )


def resolve_entities_sql() -> str:
    return _assemble(
        """SELECT c.conv_id, c.cluster_id, md5('entity|' || p.sig) AS entity_id
FROM clusters c JOIN profiles p ON p.conv_id = c.cluster_id""",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        _bands_cte(),
        BLOCKS_CTE,
        SCORED_CTE,
        CLUSTERS_CTE,
    )


def resolve_cascade_sql() -> str:
    """Multi-stage resolve cascade vs the deterministic demo registry.

    Mirrors ``operators/resolve.py::resolve_cascade`` +
    ``data/transcripts.py::demo_registry``:
    buckets by the first hex char of md5(conv_id) decide the key strength a
    registry entry is known at; each stage dedupes to min(entity_id) per key;
    coalesce picks the strongest hit, else a new deterministic id.
    """
    case = synonym_case_sql("t")
    return _assemble(
        """SELECT c.conv_id, c.cluster_id, m.entity_id, m.resolve_stage
FROM exact_clusters c JOIN m USING (cluster_id)""",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        f"""syn_keys AS (
  SELECT conv_id, md5(array_to_string(list_transform(toks, t -> {case}), ' ')) AS syn_key
  FROM tok_lists
),
pkeys AS (
  SELECT p.conv_id, p.sig, p.prefix_key, s.syn_key
  FROM profiles p JOIN syn_keys s USING (conv_id)
),
registry AS (
  SELECT md5('reg|' || conv_id) AS entity_id,
         CASE WHEN substr(md5(conv_id), 1, 1) <= '3' THEN sig END AS sig,
         CASE WHEN substr(md5(conv_id), 1, 1) BETWEEN '4' AND '7' THEN prefix_key END AS prefix_key,
         CASE WHEN substr(md5(conv_id), 1, 1) >= '8' THEN syn_key END AS syn_key
  FROM pkeys WHERE substr(md5(conv_id), 1, 1) <= 'b'
),
exact_clusters AS (
  SELECT conv_id, min(conv_id) OVER (PARTITION BY sig) AS cluster_id FROM profiles
),
rk AS (
  SELECT r.cluster_id, k.sig, k.prefix_key, k.syn_key
  FROM (SELECT DISTINCT cluster_id FROM exact_clusters) r
  JOIN pkeys k ON k.conv_id = r.cluster_id
),
s1 AS (SELECT sig, min(entity_id) AS e_sig FROM registry WHERE sig IS NOT NULL GROUP BY sig),
s2 AS (SELECT prefix_key, min(entity_id) AS e_prefix FROM registry WHERE prefix_key IS NOT NULL GROUP BY prefix_key),
s3 AS (SELECT syn_key, min(entity_id) AS e_syn FROM registry WHERE syn_key IS NOT NULL GROUP BY syn_key),
m AS (
  SELECT rk.cluster_id,
         coalesce(s1.e_sig, s2.e_prefix, s3.e_syn, md5('entity|' || rk.sig)) AS entity_id,
         CASE WHEN s1.e_sig IS NOT NULL THEN 'sig'
              WHEN s2.e_prefix IS NOT NULL THEN 'prefix'
              WHEN s3.e_syn IS NOT NULL THEN 'synonym'
              ELSE 'new' END AS resolve_stage
  FROM rk
  LEFT JOIN s1 USING (sig)
  LEFT JOIN s2 USING (prefix_key)
  LEFT JOIN s3 USING (syn_key)
)""",
    )


EVAL_CTE = """
labels AS (
  SELECT conv_a, conv_b,
         regexp_replace(conv_a, '_v[123]$', '') = regexp_replace(conv_b, '_v[123]$', '') AS is_match
  FROM cand_pairs
),
joined AS (
  SELECT l.is_match, ca.cluster_id = cb.cluster_id AS pred_match
  FROM labels l
  JOIN clusters ca ON ca.conv_id = l.conv_a
  JOIN clusters cb ON cb.conv_id = l.conv_b
),
counts AS (
  SELECT CAST(sum(CASE WHEN is_match AND pred_match THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN NOT is_match AND pred_match THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN is_match AND NOT pred_match THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN NOT is_match AND NOT pred_match THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM joined
)
"""


def eval_f1_sql() -> str:
    return _assemble(
        """SELECT tp, fp, fn, tn,
       round(CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp / CAST(tp + fp AS DOUBLE) END, 6) AS precision,
       round(CASE WHEN tp + fn = 0 THEN 1.0 ELSE tp / CAST(tp + fn AS DOUBLE) END, 6) AS recall,
       round(CASE WHEN (CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp / CAST(tp + fp AS DOUBLE) END)
                     + (CASE WHEN tp + fn = 0 THEN 1.0 ELSE tp / CAST(tp + fn AS DOUBLE) END) = 0 THEN 0.0
             ELSE 2 * (CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp / CAST(tp + fp AS DOUBLE) END)
                    * (CASE WHEN tp + fn = 0 THEN 1.0 ELSE tp / CAST(tp + fn AS DOUBLE) END)
                    / ((CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp / CAST(tp + fp AS DOUBLE) END)
                       + (CASE WHEN tp + fn = 0 THEN 1.0 ELSE tp / CAST(tp + fn AS DOUBLE) END)) END, 6) AS f1
FROM counts""",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        _bands_cte(),
        BLOCKS_CTE,
        SCORED_CTE,
        CLUSTERS_CTE,
        EVAL_CTE,
    )


def parse_udtf_roundtrip_sql() -> str:
    return _assemble(
        r"""SELECT conv_id,
       CAST(generate_subscripts(string_split(raw, ' || '), 1) - 1 AS INT) AS turn_idx,
       regexp_extract(unnest(string_split(raw, ' || ')), '^([a-z]+): ', 1) AS role,
       regexp_extract(unnest(string_split(raw, ' || ')), '(?s)^[a-z]+: (.*)$', 1) AS text
FROM raw_convs""",
        """raw_convs AS (
  SELECT conv_id,
         string_agg(role || ': ' || text, ' || ' ORDER BY turn_idx) AS raw
  FROM transcripts GROUP BY conv_id
)""",
    )


def dropped_blocks_sql() -> str:
    return _assemble(
        over_cap_sql("blocks", "block_key", MAX_BLOCK_SIZE, "block_n"),
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        _bands_cte(),
        BLOCKS_CTE,
    )


SUBSTRING_CTE = f"""
stem_lists AS (
  -- heavy-mode index keys are derived from STEMMED tokens (same rule table
  -- as stem_tokens_col) so inflected variants collide in a bucket; the
  -- minhash path's conv_shingles stays unstemmed
  SELECT conv_id, list_transform(toks, t -> {stem_case_sql('t')}) AS stoks
  FROM tok_lists
),
sub_shingles AS (
  SELECT conv_id, unnest({shingles_sql("stoks", INDEX_SHINGLE_K)}) AS key
  FROM stem_lists
),
{capped_pairs_cte("sub_cand", "sub_shingles", "key", "conv_id", RARE_DF_CAP, "conv")},
anchors AS (
  SELECT t.conv_id,
         array_to_string(t.toks[1:{ANCHOR_TOKENS}], ' ') AS anchor,
         p.concat_text
  FROM tok_lists t JOIN profiles p USING (conv_id)
)
"""


def substring_block_sql() -> str:
    return _assemble(
        """SELECT c.conv_a, c.conv_b,
       contains(pa.concat_text, pb.anchor) AS a_contains_b,
       contains(pb.concat_text, pa.anchor) AS b_contains_a
FROM sub_cand c
JOIN anchors pa ON pa.conv_id = c.conv_a
JOIN anchors pb ON pb.conv_id = c.conv_b
WHERE contains(pa.concat_text, pb.anchor) OR contains(pb.concat_text, pa.anchor)""",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        SUBSTRING_CTE,
    )


def index_over_cap_sql() -> str:
    """(key, df, pairs_dropped): the index keys over the df cap."""
    return _assemble(
        over_cap_sql("sub_shingles", "key", RARE_DF_CAP, "df"),
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        SUBSTRING_CTE,
    )


def hot_index_keys_sql() -> str:
    return f"SELECT key, df FROM ({index_over_cap_sql()})"


def synonym_blocks_sql() -> str:
    case = synonym_case_sql("t")
    return _assemble(
        f"""SELECT conv_id, 'syn' AS src,
       md5(array_to_string(list_transform(toks, t -> {case}), ' ')) AS block_key
FROM tok_lists""",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
    )


def choose_candidate_sql() -> str:
    vr = " ".join(f"WHEN '{v}' THEN {r}" for v, r in VERDICT_RANK.items())
    return _assemble(
        f"""SELECT conv_a, conv_b AS best_match, verdict, jaccard, containment, lev_sim, jw, n_turns_b
FROM (
  SELECT v.conv_a, v.conv_b, v.verdict, v.jaccard, v.containment, v.lev_sim, v.jw,
         p.n_turns AS n_turns_b,
         CASE v.verdict {vr} ELSE 0 END AS vr
  FROM verdicts v JOIN profiles p ON p.conv_id = v.conv_b
)
QUALIFY row_number() OVER (
  PARTITION BY conv_a
  ORDER BY vr DESC, jaccard DESC, containment DESC, lev_sim DESC, jw DESC,
           n_turns_b DESC, conv_b ASC) = 1""",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        _bands_cte(),
        BLOCKS_CTE,
        SCORED_CTE,
    )


def type_split_sql() -> str:
    from .data.types_dim import types_values_sql

    return _assemble(
        """SELECT conv_id,
       md5(coalesce(string_agg(CASE WHEN type_id IS NULL THEN token END, ' ' ORDER BY pos), '')) AS name_key,
       array_to_string(list_sort(list_distinct(list_filter(list(type_id), x -> x IS NOT NULL))), ',') AS type_ids,
       CAST(count(type_id) AS BIGINT) AS n_typed,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM (
  SELECT e.conv_id, e.pos, e.token, d.type_id
  FROM (SELECT conv_id, unnest(toks) AS token,
               generate_subscripts(toks, 1) AS pos FROM tok_lists) e
  LEFT JOIN types_dim d USING (token)
)
GROUP BY conv_id""",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        types_values_sql(),
    )


def requalified_keys_sql() -> str:
    from .operators.text_analysis import QUALIFIER_WORDS

    quals = "[" + ", ".join(f"'{w}'" for w in QUALIFIER_WORDS) + "]"
    return _assemble(
        f"""SELECT conv_id, 'requal' AS src,
       md5(array_to_string(toks[idx:len(toks)] || toks[1:idx-1], ' ')) AS block_key
FROM (
  SELECT conv_id, toks,
         coalesce(
           list_filter(
             list_transform(toks, (t, i) -> CASE WHEN NOT list_contains({quals}, t) THEN i END),
             x -> x IS NOT NULL)[1],
           len(toks) + 1) AS idx
  FROM tok_lists
)""",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
    )


def cluster_summary_sql() -> str:
    return _assemble(
        """SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       string_agg(conv_id, ', ' ORDER BY conv_id) AS members
FROM clusters GROUP BY cluster_id""",
        NORM_TURNS_CTE,
        PROFILES_CTE,
        SHINGLES_CTE,
        _bands_cte(),
        BLOCKS_CTE,
        SCORED_CTE,
        CLUSTERS_CTE,
    )
