"""IO layer round-trips (SURVEY §2.1 S1-S3, S7-S9): write a known
query result with each sink, read it back with the pinned-schema
readers, assert exact equality. Determinism comes from explicit
orderBy at write + re-sort at compare."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_mining_map_reduce_spark.queries import SPARK_QUERIES
from data_mining_map_reduce_spark.sources.readers import (
    read_chunked_dir,
    read_csv,
    read_json_lines,
    read_parquet,
)
from data_mining_map_reduce_spark.sources.writers import (
    write_csv,
    write_json,
    write_parquet,
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("category", T.StringType()),
        T.StructField("avg_price", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _flagship(spark, sf_dir):
    return SPARK_QUERIES["flagship_category_avg"](spark, sf_dir)


def _rows(df):
    return sorted(map(tuple, df.select("category", "avg_price", "n").collect()))


def test_parquet_roundtrip(spark, sf_dir, tmp_path):
    df = _flagship(spark, sf_dir)
    path = str(tmp_path / "out_parquet")
    write_parquet(df, path)
    assert _rows(read_parquet(spark, path)) == _rows(df)


def test_parquet_partitioned_write(spark, sf_dir, tmp_path):
    df = _flagship(spark, sf_dir)
    path = str(tmp_path / "out_parquet_part")
    write_parquet(df, path, partition_by=["category"])
    back = read_parquet(spark, path)
    # partition column comes back (string) — values preserved
    assert sorted(r.category for r in back.collect()) == sorted(
        r.category for r in df.collect()
    )


def test_json_lines_roundtrip(spark, sf_dir, tmp_path):
    df = _flagship(spark, sf_dir)
    path = str(tmp_path / "out_json")
    write_json(df, path, order_by=["category"], single_file=True)
    back = read_json_lines(spark, path, RESULT_SCHEMA)
    assert _rows(back) == _rows(df)


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    df = _flagship(spark, sf_dir)
    path = str(tmp_path / "out_csv")
    write_csv(df, path, order_by=["category"], single_file=True)
    back = read_csv(spark, path, schema=RESULT_SCHEMA, header=True)
    assert _rows(back) == _rows(df)


def test_headerless_csv_requires_schema(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError):
        read_csv(spark, str(tmp_path / "x"), schema=None, header=False)


def test_chunked_dir_roundtrip(spark, sf_dir, tmp_path):
    df = _flagship(spark, sf_dir)
    paths = []
    for i in range(3):
        p = str(tmp_path / f"chunk_{i}")
        write_parquet(df, p)
        paths.append(p)
    chunks = read_chunked_dir(spark, paths, fmt="parquet")
    assert len(chunks) == 3
    assert sum(c.count() for c in chunks) == 3 * df.count()


def test_bucketed_write_joins_without_shuffle(spark, sf_dir):
    """Two tables bucketed on the same key must equi-join with zero
    Exchange operators in the physical plan — that no-shuffle join is
    bucketing's entire purpose."""
    from data_mining_map_reduce_spark.sources.catalog import load_table
    from data_mining_map_reduce_spark.sources.writers import write_bucketed_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for t in ("t_orders_b", "t_lineitem_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        write_bucketed_table(
            orders, "t_orders_b", bucket_by=["o_orderkey"], num_buckets=4,
            sort_by=["o_orderkey"],
        )
        write_bucketed_table(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "t_lineitem_b", bucket_by=["o_orderkey"], num_buckets=4,
            sort_by=["o_orderkey"],
        )
        # disable broadcast so the planner must pick sort-merge — the
        # case where bucketing's no-shuffle property matters
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        joined = a.join(b, "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        for t in ("t_orders_b", "t_lineitem_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_salted_join_matches_plain_join(spark):
    """Salting must not change join semantics: same rows out as the
    straight equi-join, for inner and left joins, salt replication
    exactly covering every draw."""
    from data_mining_map_reduce_spark.operators.relational import salted_join

    left = spark.createDataFrame(
        # hot key 1 (many rows) + singleton keys, plus an unmatched key
        [(1, f"l{i}") for i in range(500)] + [(2, "x"), (3, "y"), (9, "z")],
        "k int, lv string",
    )
    right = spark.createDataFrame(
        [(1, "r1"), (1, "r2"), (2, "rx"), (4, "unused")], "k int, rv string"
    )
    for how in ["inner", "left"]:
        got = sorted(
            (r.k, r.lv, r.rv) for r in salted_join(left, right, "k", salt=8, how=how).collect()
        )
        want = sorted(
            (r.k, r.lv, r.rv) for r in left.join(right, "k", how).collect()
        )
        assert got == want, how


def test_events_ts_loads_as_timestamp(spark):
    """Guard against testdata parquet-type drift for events.ts.

    The testdata has shipped events.ts as both TIMESTAMP(NANOS)
    (surfacing as bigint under the nanosAsLong legacy conf) and
    TIMESTAMP(MICROS) (read natively). load_table must yield a
    timestamp dtype either way — round 4 was lost to this drift, so
    catch the next one here instead of in the driver.
    """
    from data_mining_map_reduce_spark.sources.catalog import load_table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        df = load_table(spark, sf, "events")
        dtype = dict(df.dtypes)["ts"]
        assert dtype.startswith("timestamp"), f"{sf}: ts dtype {dtype}"
        # and the values must be sane wall-clock timestamps (not
        # 1970-epoch garbage from a mis-scaled conversion)
        years = df.select(F.year("ts").alias("y")).agg(
            F.min("y").alias("lo"), F.max("y").alias("hi")
        ).first()
        assert 2000 <= years["lo"] <= years["hi"] <= 2100


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """S-row extension (r15): ORC is the other Spark-native columnar
    interchange format a large ingest meets; same vectorized scan /
    pushdown / pruning story as parquet, round-tripped value-exact."""
    from data_mining_map_reduce_spark.sources.readers import read_orc
    from data_mining_map_reduce_spark.sources.writers import write_orc

    df = _flagship(spark, sf_dir)
    path = str(tmp_path / "out_orc")
    write_orc(df, path)
    assert _rows(read_orc(spark, path)) == _rows(df)
    # pushdown reaches the ORC scan like parquet's
    plan = (
        read_orc(spark, path)
        .where(F.col("category") == "x")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "category" in plan


def test_gzipped_jsonl_reads_transparently(spark, sf_dir, tmp_path):
    """S1 over gzip (the *.jsonl.gz corpus-shard layout): the codec
    layer decompresses off the extension; values identical to the
    uncompressed read. One .gz = one task (not splittable) — the
    operational caveat lives in the reader docstring."""
    import gzip
    import json as _json

    from data_mining_map_reduce_spark.sources.readers import (
        read_json_lines_gz,
    )

    df = _flagship(spark, sf_dir)
    rows = [r.asDict() for r in df.collect()]
    shard_dir = tmp_path / "gz_shards"
    shard_dir.mkdir()
    # two shards: parallelism across files, never within one
    for i, half in enumerate((rows[: len(rows) // 2], rows[len(rows) // 2 :])):
        with gzip.open(shard_dir / f"part-{i}.jsonl.gz", "wt") as fh:
            for r in half:
                fh.write(_json.dumps(r) + "\n")
    back = read_json_lines_gz(spark, str(shard_dir), RESULT_SCHEMA)
    assert _rows(back) == _rows(df)
    assert back.rdd.getNumPartitions() == 2  # one task per .gz shard


def _jobs_run_by(spark, group, fn):
    """Call ``fn()`` under its own job group; return its result and the
    number of Spark jobs the call ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_schema_once(spark, sf_dir, tmp_path):
    """The first read of a table infers its schema (one Spark job); a
    second read of the unchanged file reuses it and runs no job, with
    the same schema and rows."""
    import shutil

    from data_mining_map_reduce_spark.sources.catalog import load_table

    # a fresh path, so no earlier test has read this file already
    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "nation.parquet")
    first, first_jobs = _jobs_run_by(
        spark, f"{tmp_path}:first", lambda: load_table(spark, str(tmp_path), "nation")
    )
    second, second_jobs = _jobs_run_by(
        spark, f"{tmp_path}:second", lambda: load_table(spark, str(tmp_path), "nation")
    )
    assert first_jobs >= 1
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_parquet_file_is_inferred_again(spark, tmp_path):
    """A file rewritten at the same path with another column set reads
    with its new schema, not the one remembered for the old file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x", "y"], "c": [0.5, 1.5]}), path)
    back = read_parquet(spark, path)
    assert back.dtypes == [("b", "string"), ("c", "double")]
    assert sorted(map(tuple, back.collect())) == [("x", 0.5), ("y", 1.5)]


def test_events_nanos_ts_loads_as_micros_timestamp(spark, tmp_path):
    """``events.ts`` stored as parquet TIMESTAMP(NANOS) loads as a
    timestamp truncated to microseconds, on the first read and on the
    read that reuses the remembered schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_mining_map_reduce_spark.sources.catalog import load_table

    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 1_000]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
        version="2.6",
        coerce_timestamps=None,
    )
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type.unit == "ns"
    for read in ("first", "memoized"):
        df, jobs = _jobs_run_by(
            spark, f"{tmp_path}:{read}", lambda: load_table(spark, str(tmp_path), "events")
        )
        if read == "first":
            assert jobs >= 1
        else:
            assert jobs == 0
        assert dict(df.dtypes)["ts"] == "timestamp", read
        got = df.select("event_id", F.unix_micros("ts").alias("us")).collect()
        assert sorted(map(tuple, got)) == [(i + 1, n // 1000) for i, n in enumerate(nanos)]
