"""Engine session defaults: batch plans shuffle into
max(DEFAULT_CPUS, 8) partitions under AQE, stateful streams (AQE off)
into one state partition per core."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from data_mining_map_reduce_spark.session import DEFAULT_CPUS
from data_mining_map_reduce_spark.sources.catalog import TABLES, load_table
from data_mining_map_reduce_spark.streaming.stateful import keyed_reservoir
from data_mining_map_reduce_spark.streaming.streams import (
    file_stream,
    foreach_batch_sink,
)


def test_shuffle_partition_split(spark):
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(DEFAULT_CPUS)
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    ) == str(max(DEFAULT_CPUS, 8))


def test_stateful_stream_one_state_partition_per_core(spark, sf_dir, tmp_path):
    src = str(tmp_path / "events")
    load_table(spark, sf_dir, "events").coalesce(1).write.parquet(src)
    cp = tmp_path / "checkpoint"
    q = foreach_batch_sink(
        keyed_reservoir(file_stream(spark, src, TABLES["events"])),
        lambda df, _bid: df.count(),
        checkpoint_dir=str(cp),
    )
    q.awaitTermination()
    assert q.exception() is None
    parts = [p for p in os.listdir(cp / "state" / "0") if p.isdigit()]
    assert sorted(parts, key=int) == [str(p) for p in range(DEFAULT_CPUS)]


def test_batch_group_by_plans_initial_partition_num(spark):
    df = spark.range(100).withColumn("k", F.col("id") % 7).groupBy("k").count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(rf"hashpartitioning\(k#\d+L, {max(DEFAULT_CPUS, 8)}\)", plan), plan
