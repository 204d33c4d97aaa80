"""Synonym/variant dictionary for data-driven blocking-key expansion (B2).

Analog of the reference's ``PushCrutch`` qualifier/synonym rewrites
(``Parser.cs:367-520``, patterns in ``RegexPatterns.cs:11-27``): a
data-driven table of term variants folded to one canonical form before key
generation, so re-spellings land in the same block — the reference's single
biggest recall mechanism, re-expressed as a broadcast dictionary instead of
regex mutation.

The dictionary is deliberately tiny data (a dimension table): engines apply
it either as a Catalyst ``map`` literal (collected driver-side — the normal
case, dictionaries are KBs) or as a broadcast join on exploded tokens when
someone ships a multi-million-row thesaurus. Both sides of the driver
correctness gate build from this ONE constant so they cannot drift.

``DEFAULT_SYNONYMS`` maps variant -> canonical over the benchmark corpus
vocabulary ('sort'->'order' merges two genuinely co-occurring spellings;
the rest cover variants a user would type).
"""

from __future__ import annotations

DEFAULT_SYNONYMS: dict[str, str] = {
    "sort": "order",
    "quick": "fast",
    "rapid": "fast",
    "large": "big",
    "huge": "big",
    "tiny": "small",
    "little": "small",
    "aggregate": "agg",
    "tbl": "table",
    "col": "column",
}


def synonym_case_sql(var: str) -> str:
    """DuckDB CASE expression canonicalizing one token expression ``var``."""
    whens = " ".join(
        f"WHEN {var} = '{k}' THEN '{v}'" for k, v in sorted(DEFAULT_SYNONYMS.items())
    )
    return f"(CASE {whens} ELSE {var} END)"
