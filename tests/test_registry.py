"""Registry invariants that keep shipped docs and the driver contract
honest: the query/oracle counts printed in README.md must equal the
live registry, every oracle must name a registered query, and
``_DRIVER_ORDER`` must list every registered query exactly once and
fix the order in which ``all_queries()`` / ``all_oracles()`` hand them
to the driver (which records only the first 50)."""

from __future__ import annotations

import re
from pathlib import Path

from data_mining_map_reduce_spark.queries import (
    _DRIVER_ORDER,
    ORACLES,
    SPARK_QUERIES,
    all_oracles,
    all_queries,
)

README = Path(__file__).resolve().parent.parent / "README.md"


def test_readme_counts_match_registry():
    text = README.read_text()
    m = re.search(
        r"registry: (\d+) named queries, (\d+) paired with DuckDB oracle SQL",
        text,
    )
    assert m, "README.md registry count line missing or reworded"
    assert int(m.group(1)) == len(SPARK_QUERIES), (
        f"README says {m.group(1)} queries, registry has "
        f"{len(SPARK_QUERIES)} — update README.md"
    )
    assert int(m.group(2)) == len(ORACLES), (
        f"README says {m.group(2)} oracles, registry has "
        f"{len(ORACLES)} — update README.md"
    )


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(SPARK_QUERIES)


def test_no_query_name_is_purely_numeric():
    """ADVICE r14: the bench line's spread keys are positional
    (decimal-string indexes into the rendered "queries" order), with
    full names as the fallback for folded rows — a registered name
    that is all digits would decode as an index and silently point
    the spread at the wrong row. Pin it at the source."""
    bad = [q for q in SPARK_QUERIES if q.isdigit()]
    assert not bad, f"digit-only query names break spread decoding: {bad}"


def test_driver_order_covers_registry_exactly():
    """Every registered query appears in _DRIVER_ORDER exactly once,
    and the driver accessors return exactly that order."""
    assert len(_DRIVER_ORDER) == len(set(_DRIVER_ORDER)), "duplicate names"
    assert set(_DRIVER_ORDER) == set(SPARK_QUERIES), (
        set(_DRIVER_ORDER) ^ set(SPARK_QUERIES)
    )
    assert list(all_queries()) == _DRIVER_ORDER
    assert list(all_oracles()) == [n for n in _DRIVER_ORDER if n in ORACLES]
