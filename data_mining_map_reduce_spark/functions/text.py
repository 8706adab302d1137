"""Text column expressions (SURVEY.md §2.8 F1-F5, F14).

Everything here is a pure Catalyst column expression — JVM-side,
whole-stage-codegen'd, no Python UDFs. The reference does the same
work row-at-a-time in Python closures (tokenizer at reference
Assignment1/task1.py:40-45; category split at Assignment1/task2.py:37).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Punctuation set stripped by the reference's word-count tokenizer
# (Assignment1/task1.py:40-45).
PUNCT = "([,.!?:;])"

# Small deterministic English stopword list (reference uses a
# file-supplied list, Assignment1/task1.py:11,52; we pin one so
# oracles can embed the identical literal).
STOPWORDS = ("a", "an", "and", "in", "of", "the", "to", "is", "it")


def normalize(col: Column | str) -> Column:
    """F1: lowercase + strip punctuation chars."""
    return F.translate(F.lower(F.col(col) if isinstance(col, str) else col), PUNCT, "")


def tokenize(col: Column | str, pattern: str = r"\s+") -> Column:
    """F4: whitespace tokenize → array<string> (empty strings removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, pattern), lambda t: t != F.lit(""))


def split_trim(col: Column | str, sep: str = ",") -> Column:
    """F2: split a delimited string and trim each piece (category
    lists with stray spaces, Assignment1/task2.py:37)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(F.split(c, sep), lambda x: F.trim(x))


def word_ngrams(tokens: Column, n: int) -> Column:
    """F14-adjacent: n-token shingles from an array<string> column.

    Built as slice+concat over an index sequence — stays in codegen.
    Returns array<string> of space-joined shingles (distinct not
    applied; compose with ``array_distinct`` for set semantics).
    Inputs shorter than ``n`` yield an empty array (guarded: Spark's
    ``sequence(1, 0)`` counts DOWN, which would fabricate shingles).
    """
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
