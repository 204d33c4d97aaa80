"""Tokens and shingles as Catalyst-native array expressions.

Analog of the reference's blocking-key expansion (``SplitNamesBySpace``
sliding word-windows, ``Parser.cs:302-363``): we bound the candidate space
with token k-gram shingles over a conversation's concatenated normalized
turns instead of word-window variations, but the role is identical — a
deterministic, bounded set of lookup keys per entity.

Everything here is a Column expression (whole-stage codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_col(norm_text: Column) -> Column:
    """Split an already-normalized text into tokens, dropping empties."""
    return F.filter(F.split(norm_text, " "), lambda t: t != "")


def shingles_col(tokens: Column, k: int = 3) -> Column:
    """Contiguous k-gram shingles (space-joined) over a token array.

    Fewer than ``k`` tokens -> one shingle of the whole array, so short
    conversations still get a key (reference keeps 1-word parts unless
    subsumed, ``Parser.cs:524-531``).

    Implementation: zip_with over j-shifted copies of the array, NOT a
    transform whose lambda slices ``tokens`` — a lambda body referencing an
    outer expression re-evaluates it per element (no hoisting in Catalyst),
    which turns shingling O(n^2) whenever projection collapsing inlines the
    tokenizer into the lambda. zip_with inputs are evaluated once; the lambda
    only touches its own arguments. zip_with pads the shorter side with
    nulls and concat null-propagates, so trailing partial windows drop out
    in the filter.
    """
    n = F.size(tokens)
    full = F.array(F.array_join(tokens, " "))
    grams = tokens
    for j in range(1, k):
        shifted = F.slice(tokens, j + 1, n)
        grams = F.zip_with(grams, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    grams = F.filter(grams, lambda g: g.isNotNull())
    return F.when(n <= k, full).otherwise(grams)


def distinct_shingles_col(tokens: Column, k: int = 3) -> Column:
    return F.array_distinct(shingles_col(tokens, k))


def stem_tokens_col(tokens: Column) -> Column:
    """Fold each token to its suffix-stripped stem (heavy-mode CONTAINS arm).

    Pure Catalyst when-chain built from ``data/stemming.py``'s rule table
    (see there for the exact semantics shared with the DuckDB oracle) —
    dimension-sized rules applied as expressions, the same pattern as
    ``canonical_tokens_col``. Mirrors the inflection matching of the
    reference's full-text ``CONTAINS`` candidate fetch
    (``Db/DataContextBase_AddrObject.cs:115-141``).
    """
    from ..data.stemming import DOUBLED, MIN_STEM, ORDERED_RULES, UNDOUBLE_AFTER

    def undouble(expr: Column) -> Column:
        out = expr
        for d in reversed(DOUBLED):
            out = F.when(
                expr.endswith(d), expr.substr(F.lit(1), F.length(expr) - 1)
            ).otherwise(out)
        return out

    def stem_one(t: Column) -> Column:
        chain = None
        for suf, rep in ORDERED_RULES:
            stem = t.substr(F.lit(1), F.length(t) - len(suf))
            if rep:
                stem = F.concat(stem, F.lit(rep))
            elif suf in UNDOUBLE_AFTER:
                stem = undouble(stem)
            cond = t.endswith(suf) & (F.length(t) - len(suf) >= MIN_STEM)
            chain = F.when(cond, stem) if chain is None else chain.when(cond, stem)
        return t if chain is None else chain.otherwise(t)

    return F.transform(tokens, stem_one)
