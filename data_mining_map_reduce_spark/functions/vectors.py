"""Dense-vector column expressions over array<float|double>.

SURVEY.md §2.8 F9, F11. The reference computes Euclidean distances
in Python loops (Assignment5/bfr.py:47-51) and Jaccard via Python
sets (Assignment3/task1.py:84-88). Here each is a single codegen'd
array expression — no Python in the hot path, vectorizable by
Tungsten, and usable inside joins. (F10, the diagonal Mahalanobis
distance, is built inline by BFR in operators/clustering.py.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    a, b = _c(a), _c(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either norm is zero (ANSI-safe)."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def l2(a: Column | str, b: Column | str) -> Column:
    """F9: Euclidean distance."""
    a, b = _c(a), _c(b)
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def jaccard(a: Column | str, b: Column | str) -> Column:
    """F11: Jaccard similarity of two array columns (set semantics);
    0.0 for two empty sets."""
    a, b = _c(a), _c(b)
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
