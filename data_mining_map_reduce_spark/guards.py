"""Driver-side scale guards: one bounded probe and one budget check.

Every driver-local fast path collects through ``local_rows`` and every
scale budget raises through ``require``, so each guard fails with one
exception type and one message shape,
``"{op}: {measured} exceeds {knob}={limit}; {remedy}"``. No Spark
import at module load, so worker-side code (the A-Priori caps inside
``mapInPandas``) raises the same error.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, Row


class GuardError(ValueError, RuntimeError):
    """A scale guard refused its input. Subclasses both ``ValueError``
    and ``RuntimeError`` so callers catching either still catch it."""


def local_rows(df: DataFrame, cap: int) -> list[Row] | None:
    """``df``'s rows if it has at most ``cap`` of them, else ``None``;
    also ``None`` when ``cap <= 0``, which disables the fast path.

    ``limit(cap + 1)`` bounds the probe itself: on a huge input it
    reads the first rows of the first partitions, never the whole
    relation, and when the input fits, the collected rows are the
    driver-local algorithm's input. Callers take their distributed
    path on ``None``, with identical results either way (parity is
    pytest-asserted per operator), so driver memory is capped by the
    guard, never by the data.
    """
    if cap <= 0:
        return None
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


def require(
    op: str,
    limit: int | None,
    measure: Callable[[], float],
    knob: str,
    remedy: str,
) -> None:
    """Raise ``GuardError`` when ``measure()`` exceeds ``limit``.

    A ``limit`` of ``None`` or ``<= 0`` disables the guard, and then
    ``measure`` is never called, so a disabled guard runs no job.
    """
    if limit is None or limit <= 0:
        return
    measured = measure()
    if measured > limit:
        raise GuardError(f"{op}: {measured} exceeds {knob}={limit}; {remedy}")
