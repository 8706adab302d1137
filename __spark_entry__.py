"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator
from SURVEY.md §2 for the driver's DuckDB cross-check at sf0.01.

Ordering is deliberate (queries._DRIVER_ORDER): the driver records
at most the first 50 queries in its correctness artifact. Queries
past the first 50 remain fully runnable and pytest/driver_sim-verified.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_mining_map_reduce_spark.queries import (
    all_oracles,
    all_queries,
    flagship_category_avg,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_category_avg(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (omitted ⇒ rows-only check)."""
    return all_oracles()
