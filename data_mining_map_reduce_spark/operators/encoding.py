"""Dictionary encoding: string keys → dense integer ids.

SURVEY.md §4 "custom work needed": the reference dictionary-encodes
user ids with a driver-side ``users.index(...)`` over a collected
list — O(n) per lookup, driver-bound (reference
Assignment3/task1.py:23-25). The engine builds the dictionary as a
DataFrame and attaches ids with a broadcast join, fully distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dictionary_encode(df: DataFrame, col: str, id_alias: str = "id") -> DataFrame:
    """Distinct values of ``col`` → (value, dense id starting at 1).

    dense_rank over a single global window is fine for dictionary
    domains (they are small by definition); for huge domains use
    ``zipWithIndex``-style ``row_number`` over ``monotonically
    _increasing_id`` buckets instead.
    """
    return (
        df.select(col)
        .distinct()
        .withColumn(
            id_alias, F.dense_rank().over(Window.orderBy(F.col(col))).cast("int")
        )
    )


def dictionary_encode_big(
    df: DataFrame, col: str, id_alias: str = "id", partitions: int | None = None
) -> DataFrame:
    """Scale path for huge dictionary domains: dense ordered ids with
    NO global single-task sort.

    Two passes, both distributed:
    1. distinct values → ``repartitionByRange`` on the value (range
       partitioner samples boundaries) → sort WITHIN partitions →
       per-partition ``row_number`` via a partition-local window.
    2. per-partition counts (tiny: one row per partition) → cumulative
       offsets on the driver → broadcast-joined back; global id =
       offset + local row number.

    Equivalent to RDD ``zipWithIndex`` on a sorted dataset, expressed
    in the DataFrame domain. Ids are dense, start at 1, and follow
    value order — identical output contract to ``dictionary_encode``
    (pytest-asserted), so callers can swap paths by domain size.
    """
    spark = df.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    distinct = (
        df.select(col)
        .distinct()
        .repartitionByRange(parts, F.col(col))
        .withColumn("_pid", F.spark_partition_id())
    )
    # Pin the partition assignment before ANY job reads it:
    # repartitionByRange picks boundaries by reservoir-sampling the
    # upstream distinct, and the sample depends on intra-partition
    # element ORDER — which a recomputed hash aggregate does not
    # guarantee. Without the checkpoint the offsets job and the final
    # join job can see DIFFERENT partitionings, corrupting the dense
    # ids (observed as duplicate ids at sf0.1). Lazy checkpoint: the
    # sizes collect below is the materializing action.
    local = distinct.withColumn(
        "_local",
        F.row_number().over(
            Window.partitionBy("_pid").orderBy(F.col(col))
        ),
    ).localCheckpoint(eager=False)
    sizes = sorted(
        (r._pid, r.n)
        for r in local.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = {}, 0
    for pid, n in sizes:
        offsets[pid] = acc
        acc += n
    offset_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    return (
        local.join(F.broadcast(offset_df), "_pid")
        .select(col, (F.col("_off") + F.col("_local")).cast("int").alias(id_alias))
    )
