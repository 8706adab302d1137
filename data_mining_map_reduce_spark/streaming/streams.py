"""Structured Streaming operators (SURVEY §2.9 ST1-ST5, §2.1 S5).

The reference's streaming is DStream-era: ``StreamingContext(sc, 5)``
+ ``socketTextStream(...).window(30, 10)`` + ``foreachRDD`` whose body
collects the window to the driver (reference Assignment6/task2.py:87-96)
— processing-time windows, no late-data concept, aggregation on the
driver.

Engine upgrades, per SURVEY §2.9's mapping:
- ST1 micro-batch trigger  → ``trigger(processingTime=...)`` /
  ``availableNow`` (bounded replay for tests).
- ST2 sliding window       → ``groupBy(window(ts, win, slide))`` on
  EVENT time, aggregation fully distributed.
- ST3 watermark            → ``withWatermark`` drops late rows; a
  capability the reference lacks outright.
- ST5 foreachRDD           → ``foreachBatch``.
- S5 socket source         → file source w/ ``maxFilesPerTrigger``
  (the file source exercises identical plan incrementalization;
  ``socket_stream`` below drives format("socket") directly and is
  smoke-tested against a loopback server, skipped where sockets are
  unavailable).

Batch-stream parity is the correctness contract: the same windowed
aggregation run as a stream over a bounded file replay must equal the
batch query (tests/test_streaming.py), because Structured Streaming
incrementalizes the identical logical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """S5/ST1: bounded file-replay stream with pinned schema. One
    file per micro-batch by default — deterministic incremental
    processing, the test twin of the reference's socket feed."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def socket_stream(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 9999
) -> DataFrame:
    """S5: the reference's actual source shape — a line-text TCP
    socket (reference Assignment6/task2.py:87 ``socketTextStream``).
    One string column ``value`` per line; no replay, no fault
    tolerance (inherent to the source — production feeds belong on a
    replayable log, this exists for parity and demos)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def rate_stream(
    spark: SparkSession, rows_per_second: int = 100, num_partitions: int = 1
) -> DataFrame:
    """S6 stand-in: a self-generating push source. The reference's S6
    is a tweepy ``Stream.filter`` callback (reference
    Assignment6/task3.py:121-125) — an external service pushing rows
    at its own pace, which no hermetic build can depend on. Spark's
    ``rate`` source reproduces the operative property (rows arrive on
    the source's clock, not via replayable files) with columns
    ``timestamp, value``; downstream plumbing (windows, watermarks,
    reservoir state) is source-agnostic, so everything exercised on
    this source carries over to a real push connector verbatim."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", num_partitions)
        .load()
    )


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """ST2+ST3: watermarked event-time (sliding) window counts —
    the streaming twin of queries.window_sliding_hourly. State for a
    window is dropped once the watermark passes its end; rows later
    than the watermark are discarded (ST3 semantics the reference
    cannot express)."""
    w = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    ).alias("w")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(w)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming exact deduplication — the streaming twin of the
    batch dedup block (operators/dedup.py): emit the first event per
    ``keys``, drop every later duplicate.

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark``:
    per-key state is BOUNDED — it lives only until the watermark
    passes the first-seen event's time, so two duplicates farther
    apart than the watermark both survive. That bounded-state contract
    is the only one that runs forever at 100 TB/day; the
    ``False`` branch (plain ``dropDuplicates``) keeps every key ever
    seen in state and is only for bounded replays/backfills where
    exact global dedup is worth unbounded state.
    """
    marked = stream.withWatermark(ts_col, watermark)
    if within_watermark:
        return marked.dropDuplicatesWithinWatermark(keys)
    return marked.dropDuplicates(keys)


def run_stream_to_memory(
    agg: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> list:
    """ST1/ST5 harness: drain all available input (availableNow
    trigger — bounded replay), sink to the in-memory table, return
    the final rows. Used by tests; production sinks go through
    ``foreach_batch_sink``."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return agg.sparkSession.sql(f"SELECT * FROM {query_name}").collect()


def foreach_batch_sink(
    agg: DataFrame,
    batch_fn,
    output_mode: str = "update",
    available_now: bool = True,
    checkpoint_dir: str | None = None,
):
    """ST5: ``foreachBatch`` sink — per-micro-batch callback
    ``batch_fn(batch_df, batch_id)``, the engine's answer to
    ``foreachRDD`` (reference Assignment6/task2.py:91). Returns the
    StreamingQuery (caller awaits/stops). The checkpoint is written
    through the manager and the ``file://`` file system that
    ``session.get_spark`` pins (``FileSystemBasedCheckpointFileManager``,
    ``graft.hadoop.NioLocalFileSystem``), so without libhadoop a
    micro-batch forks neither ``readlink`` for its renames nor ``chmod``
    for its new files and directories."""
    writer = agg.writeStream.outputMode(output_mode).foreachBatch(batch_fn)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def session_window_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """ST2 session flavor: per-key event-time SESSION windows (gap
    semantics — a session extends while successive events arrive
    within ``gap``), the streaming twin of the batch
    ``session_windows_per_user`` query. Sessions are engine-merged
    state: watermark REQUIRED (append mode) — a session only
    finalizes once the watermark passes its end, so sessions ending
    within ``watermark`` of the stream's maximum event time stay open
    and unemitted. That held-back tail is the price of correct
    out-of-order merging at unbounded scale (state is bounded by
    open sessions per key, not history)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col, F.session_window(ts_col, gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )
