"""Suffix-strip stemming rules for the heavy-mode inverted index (data-driven).

The reference's heavy search mode rides SQL Server full-text ``CONTAINS``,
which matches inflectional variants via its language stemmer
(``Db/DataContextBase_AddrObject.cs:115-141``). The engine's inverted
shingle index covers exact containment; this module adds the stemming arm:
a tiny ordered rule table (suffix -> replacement, longest suffix first)
folded over each token BEFORE index-key derivation, so inflected variants
collide in the same index bucket. Like the synonym dictionary, the rules are
data (dimension-sized), applied as a Catalyst when-chain — and the DuckDB
oracle builds its CASE expression from the SAME constants so the two sides
cannot drift.

Semantics (mirrored exactly by ``stem_tokens_col`` and ``stem_case_sql``):

1. first rule (longest-first order) whose suffix matches AND leaves a stem
   of >= MIN_STEM chars fires: ``stem = strip(suffix) || replacement``;
2. if the fired rule is a bare-strip of 'ing'/'ed', a trailing doubled
   consonant is undoubled ('running' -> 'runn' -> 'run') — expressed as a
   second when-chain over DOUBLED (RE2 in DuckDB has no backreferences, so
   both engines enumerate the pairs identically);
3. no rule fires -> token unchanged (non-ASCII tokens pass through).

The rule table is PER-LANGUAGE DATA, not engine logic: DEFAULT_STEM_RULES
covers English suffixes because the transcript domain's tool/role tokens are
English. Another corpus swaps in its own (suffix, replacement) table — and
the reference's CONTAINS behaves the same way, delegating inflection to the
database's configured language stemmer.
"""

from __future__ import annotations

# (suffix, replacement), applied longest-suffix-first
DEFAULT_STEM_RULES: list[tuple[str, str]] = [
    ("ies", "y"),   # queries -> query
    ("ing", ""),    # matching -> match
    ("ed", ""),     # matched -> match
    ("es", ""),     # matches -> match
    ("s", ""),      # runs -> run
]

# suffixes whose bare strip exposes a doubled final consonant to undouble
UNDOUBLE_AFTER = ("ing", "ed")
DOUBLED = ("bb", "dd", "ff", "gg", "ll", "mm", "nn", "pp", "rr", "tt")

MIN_STEM = 3


# DEFAULT_STEM_RULES in the order they are tried: longest suffix first
ORDERED_RULES = sorted(DEFAULT_STEM_RULES, key=lambda sr: (-len(sr[0]), sr[0]))


def stem_case_sql(var: str) -> str:
    """DuckDB CASE expression stemming one token expression ``var``."""

    def undouble(expr: str) -> str:
        whens = " ".join(
            f"WHEN ends_with({expr}, '{d}') THEN left({expr}, len({expr}) - 1)"
            for d in DOUBLED
        )
        return f"(CASE {whens} ELSE {expr} END)"

    whens = []
    for suf, rep in ORDERED_RULES:
        stem = f"left({var}, len({var}) - {len(suf)})"
        if rep:
            stem = f"({stem} || '{rep}')"
        elif suf in UNDOUBLE_AFTER:
            stem = undouble(stem)
        whens.append(
            f"WHEN ends_with({var}, '{suf}') AND len({var}) - {len(suf)} >= "
            f"{MIN_STEM} THEN {stem}"
        )
    return f"(CASE {' '.join(whens)} ELSE {var} END)"
