"""Structured Streaming slice (SURVEY §2.9): batch-stream parity,
watermark late-row drop, foreachBatch sink, reservoir sampling.

Parity is the contract: Structured Streaming incrementalizes the same
logical plan, so a bounded file replay must reproduce the batch
answer exactly (mirrors the reference's Assignment6/task2 windowed
counting, upgraded to event time)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_mining_map_reduce_spark.sources.catalog import TABLES, load_table
from data_mining_map_reduce_spark.streaming.reservoir import (
    ReservoirSampler,
    uniform_sample,
)
from data_mining_map_reduce_spark.streaming.streams import (
    file_stream,
    foreach_batch_sink,
    run_stream_to_memory,
    windowed_event_counts,
)


def _events_dir(spark, sf_dir, tmp_path, n_files=4) -> str:
    """Materialize events (micros timestamps) as a multi-file parquet
    dir so maxFilesPerTrigger=1 yields several micro-batches."""
    out = str(tmp_path / "events_stream")
    load_table(spark, sf_dir, "events").repartition(n_files).write.parquet(out)
    return out


def test_stream_batch_parity_sliding_window(spark, sf_dir, tmp_path):
    path = _events_dir(spark, sf_dir, tmp_path)
    stream = file_stream(spark, path, TABLES["events"])
    agg = windowed_event_counts(
        stream, window="1 hour", slide="30 minutes", watermark="365 days"
    )
    got = {
        (r.window_start, r.n)
        for r in run_stream_to_memory(agg, "parity_sliding", output_mode="complete")
    }
    events = load_table(spark, sf_dir, "events")
    want = {
        (r.window_start, r.n)
        for r in events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
        .collect()
    }
    assert got == want and len(got) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """ST3: a row older than the watermark is discarded, so its
    window never appears in append-mode output."""
    path = str(tmp_path / "wm_stream")
    schema = "ts timestamp, user_id long"

    def mk(rows):
        return spark.createDataFrame(rows, "ts string, user_id long")

    # batch 1: on-time rows 12:00-12:59
    mk(
        [("2024-01-01 12:0%d:00" % i, i) for i in range(5)]
        + [("2024-01-01 12:59:00", 99)]
    ).selectExpr("CAST(ts AS timestamp) ts", "user_id").write.mode(
        "overwrite"
    ).parquet(path)

    stream = spark.readStream.schema(schema).parquet(path)
    agg = windowed_event_counts(
        stream, window="10 minutes", watermark="10 minutes"
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .start()
    )
    q.processAllAvailable()
    # batch 2: one VERY late row (10:00 — hours behind the 12:49
    # watermark) plus a fresh row that advances the clock
    mk([("2024-01-01 10:00:00", 1), ("2024-01-01 13:10:00", 2)]).selectExpr(
        "CAST(ts AS timestamp) ts", "user_id"
    ).write.mode("append").parquet(path)
    q.processAllAvailable()
    q.stop()

    rows = {r.window_start.isoformat(): r.n for r in spark.sql("SELECT * FROM wm_test").collect()}
    assert not any(k.startswith("2024-01-01T10:") for k in rows), rows
    assert rows.get("2024-01-01T12:00:00") == 5, rows


def test_foreach_batch_sink_sees_all_rows(spark, sf_dir, tmp_path):
    path = _events_dir(spark, sf_dir, tmp_path)
    stream = file_stream(spark, path, TABLES["events"])
    seen: list[tuple[int, int]] = []

    q = foreach_batch_sink(
        stream.select("event_id"),
        lambda df, bid: seen.append((bid, df.count())),
        output_mode="append",
    )
    q.awaitTermination()
    total = load_table(spark, sf_dir, "events").count()
    assert sum(n for _, n in seen) == total
    assert len(seen) >= 2  # maxFilesPerTrigger=1 => several batches


def test_reservoir_stream_deterministic_and_bounded(spark, sf_dir, tmp_path):
    path = _events_dir(spark, sf_dir, tmp_path)

    def run():
        sampler = ReservoirSampler(capacity=100, seed=7)
        stream = file_stream(spark, path, TABLES["events"]).select("event_id")
        q = foreach_batch_sink(
            stream, sampler.foreach_batch("event_id"), output_mode="append"
        )
        q.awaitTermination()
        return sampler

    a, b = run(), run()
    total = load_table(spark, sf_dir, "events").count()
    assert a.count == total
    assert len(a.items) == min(100, total)
    assert [r.event_id for r in a.items] == [r.event_id for r in b.items]


def test_reservoir_batch_cap_both_sides(spark, sf_dir, tmp_path):
    """The defensive per-batch collect cap (r12): a batch within the
    cap feeds normally and preserves the exact sampler semantics; a
    batch over the cap fails fast with the scale prescription instead
    of collecting unbounded rows to the driver."""
    import pytest

    events = load_table(spark, sf_dir, "events").select("event_id").limit(500)

    # under the cap: identical result to the uncapped path
    capped, uncapped = (
        ReservoirSampler(capacity=100, seed=7),
        ReservoirSampler(capacity=100, seed=7),
    )
    capped.foreach_batch("event_id", batch_cap=500)(events, 0)
    uncapped.foreach_batch("event_id", batch_cap=0)(events, 0)
    assert capped.count == uncapped.count == 500
    assert [r.event_id for r in capped.items] == [
        r.event_id for r in uncapped.items
    ]

    # over the cap: refuses, names the keyed executor-side path
    sampler = ReservoirSampler(capacity=100, seed=7)
    with pytest.raises(RuntimeError, match="keyed_reservoir"):
        sampler.foreach_batch("event_id", batch_cap=499)(events, 1)
    assert sampler.count == 0  # nothing partially fed


def test_reservoir_uniformity_smoke(spark, sf_dir, tmp_path):
    """Sampled ids should span the id range, not cluster at the
    start (the keep-first-100 failure mode)."""
    path = _events_dir(spark, sf_dir, tmp_path)
    sampler = ReservoirSampler(capacity=100, seed=11)
    stream = file_stream(spark, path, TABLES["events"]).select("event_id")
    q = foreach_batch_sink(
        stream, sampler.foreach_batch("event_id"), output_mode="append"
    )
    q.awaitTermination()
    ids = [r.event_id for r in sampler.items]
    n = sampler.count
    mean = sum(ids) / len(ids)
    # uniform mean ~ n/2 with sd ~ n/sqrt(12*100) ~ 0.029n; allow 4 sd
    assert abs(mean - n / 2) < 0.12 * n, (mean, n)


def test_uniform_sample_batch_twin(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    a = uniform_sample(events, 100, seed=7).select("event_id").collect()
    b = uniform_sample(events, 100, seed=7).select("event_id").collect()
    assert len(a) == 100
    assert {r.event_id for r in a} == {r.event_id for r in b}


def test_socket_source_smoke(spark):
    """S5 closure: drive format("socket") for one bounded feed from a
    loopback TCP server. Skipped cleanly where sockets are
    unavailable (sandboxed/headless environments)."""
    import socket
    import threading
    import time

    import pytest

    from data_mining_map_reduce_spark.streaming.streams import socket_stream

    try:
        srv = socket.socket()
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)
    except OSError as e:
        pytest.skip(f"loopback sockets unavailable: {e}")
    port = srv.getsockname()[1]
    lines = ["alpha", "beta", "gamma"]
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        conn.sendall(("\n".join(lines) + "\n").encode())
        stop.wait(30)  # keep the connection open while the stream reads
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        q = (
            socket_stream(spark, "127.0.0.1", port)
            .writeStream.format("memory")
            .queryName("socket_smoke")
            .outputMode("append")
            .start()
        )
    except Exception as e:  # socket source missing/refused in this env
        stop.set()
        srv.close()
        pytest.skip(f"socket source unavailable: {e}")
    try:
        got: set[str] = set()
        deadline = time.time() + 30
        while time.time() < deadline and not got >= set(lines):
            q.processAllAvailable()
            got = {
                r.value
                for r in spark.sql("SELECT * FROM socket_smoke").collect()
            }
            time.sleep(0.2)
        assert got >= set(lines), got
    finally:
        stop.set()
        q.stop()
        srv.close()


def test_rate_source_smoke(spark):
    """S6 stand-in: the rate push source produces monotonically
    numbered rows on its own clock. num_partitions=1 is load-bearing:
    the gapless assertion below relies on a single generator partition
    (multiple partitions split values round-robin, so a mid-batch
    snapshot could legitimately expose gaps)."""
    import time

    from data_mining_map_reduce_spark.streaming.streams import rate_stream

    q = (
        rate_stream(spark, rows_per_second=200, num_partitions=1)
        .writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        rows = []
        while time.time() < deadline and len(rows) < 10:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM rate_smoke").collect()
            time.sleep(0.2)
        assert len(rows) >= 10, len(rows)
        vals = sorted(r.value for r in rows)
        assert vals == list(range(len(vals)))  # gapless monotone ids
        assert all(r.timestamp is not None for r in rows)
    finally:
        q.stop()


def test_rate_source_through_windowed_counts(spark):
    """S6 + ST2: the standard windowed-count plumbing runs on the rate
    push source unchanged — the source-agnostic claim in
    rate_stream's docstring, exercised for real: rate rows flow
    through windowed_event_counts (watermark + event-time window) and
    the per-window counts total exactly the generated rows."""
    import time

    from data_mining_map_reduce_spark.streaming.streams import (
        rate_stream,
        windowed_event_counts,
    )

    counted = windowed_event_counts(
        rate_stream(spark, rows_per_second=200, num_partitions=1),
        ts_col="timestamp",
        window="1 second",
        watermark="1 hour",
    )
    q = (
        counted.writeStream.format("memory")
        .queryName("rate_windowed")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 30
        total = 0
        while time.time() < deadline and total < 10:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM rate_windowed").collect()
            total = sum(r.n for r in rows)
            time.sleep(0.2)
        assert total >= 10, total
        # every generated row lands in exactly one 1s window: totals
        # across windows == rows produced so far by the single
        # partition (gapless ids ⇒ count == max id + 1 at batch edge)
        assert all(r.window_start is not None and r.n > 0 for r in rows)
    finally:
        q.stop()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicates arriving within the
    watermark horizon are dropped across micro-batches; each key's
    first-seen row survives exactly once."""
    from data_mining_map_reduce_spark.streaming.streams import dedup_stream

    path = str(tmp_path / "dedup_stream")
    rows = [
        # key A: 3 copies spread over two files; key B: 2 copies; C unique
        ("2024-01-01 12:00:00", "A"), ("2024-01-01 12:05:00", "A"),
        ("2024-01-01 12:01:00", "B"), ("2024-01-01 12:02:00", "C"),
    ]
    later = [("2024-01-01 12:20:00", "A"), ("2024-01-01 12:25:00", "B")]

    def mk(rs):
        return spark.createDataFrame(rs, "ts string, k string").selectExpr(
            "CAST(ts AS timestamp) ts", "k"
        )

    mk(rows).coalesce(1).write.mode("overwrite").parquet(path)
    mk(later).coalesce(1).write.mode("append").parquet(path)

    stream = file_stream(spark, path, schema="ts timestamp, k string")
    got = run_stream_to_memory(
        dedup_stream(stream, ["k"], watermark="2 hours"),
        "dedup_ww",
        output_mode="append",
    )
    assert sorted(r.k for r in got) == ["A", "B", "C"]


def test_stream_dedup_unbounded_parity(spark, sf_dir, tmp_path):
    """within_watermark=False (global dedup over a bounded replay)
    must equal batch dropDuplicates on the same keys."""
    from data_mining_map_reduce_spark.streaming.streams import dedup_stream

    path = _events_dir(spark, sf_dir, tmp_path)
    stream = file_stream(spark, path, TABLES["events"])
    got = run_stream_to_memory(
        dedup_stream(
            stream, ["user_id"], watermark="365 days", within_watermark=False
        ),
        "dedup_global",
        output_mode="append",
    )
    want = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert len(got) == want > 0


def test_keyed_reservoir_full_capacity_equals_batch(spark, sf_dir, tmp_path):
    """ST8 (applyInPandasWithState): with capacity >= any user's event
    count, the per-key streaming reservoir after a chunked replay is
    exactly that user's full event set — state carries correctly
    across micro-batches."""
    from data_mining_map_reduce_spark.streaming.stateful import keyed_reservoir

    path = _events_dir(spark, sf_dir, tmp_path)
    stream = file_stream(spark, path, TABLES["events"])
    rows = run_stream_to_memory(
        keyed_reservoir(stream, capacity=10_000),
        "reservoir_full",
        output_mode="update",
    )
    # update mode emits one row per key per touching batch; the final
    # state is the row with the largest n_seen (monotone per key)
    final: dict[int, tuple] = {}
    for r in rows:
        if r.user_id not in final or r.n_seen > final[r.user_id][0]:
            final[r.user_id] = (r.n_seen, sorted(r.sample))
    events = load_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.n, sorted(r.items))
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list("event_id").alias("items"),
        )
        .collect()
    }
    assert final == want


def test_keyed_reservoir_bounded_and_deterministic(spark, sf_dir, tmp_path):
    """ST8: small capacity — every reservoir holds exactly
    min(capacity, n_seen) items, all drawn from that user's events,
    and an identical replay reproduces identical samples
    (hash-derived randomness, no RNG state)."""
    from data_mining_map_reduce_spark.streaming.stateful import keyed_reservoir

    path = _events_dir(spark, sf_dir, tmp_path)

    def run(qname):
        stream = file_stream(spark, path, TABLES["events"])
        rows = run_stream_to_memory(
            keyed_reservoir(stream, capacity=8),
            qname,
            output_mode="update",
        )
        final = {}
        for r in rows:
            if r.user_id not in final or r.n_seen > final[r.user_id][0]:
                final[r.user_id] = (r.n_seen, tuple(sorted(r.sample)))
        return final

    got1 = run("reservoir_small_a")
    events = load_table(spark, sf_dir, "events")
    universe = {
        r.user_id: set(r.items)
        for r in events.groupBy("user_id")
        .agg(F.collect_set("event_id").alias("items"))
        .collect()
    }
    assert set(got1) == set(universe)
    for uid, (n_seen, sample) in got1.items():
        assert len(sample) == min(8, n_seen)
        assert len(set(sample)) == len(sample)  # no slot duplicates
        assert set(sample) <= universe[uid]
    assert run("reservoir_small_b") == got1


def test_session_window_stream_batch_parity(spark, sf_dir, tmp_path):
    """ST2 session windows: the stream's emitted sessions must be
    EXACTLY the batch session_window aggregation restricted to
    sessions ending at/before the engine's final watermark —
    append-mode finalization semantics, checked against the reported
    watermark instead of a guessed fraction (how far the watermark
    advances past the last batch depends on whether a trailing flush
    micro-batch runs, which is not deterministic under availableNow)."""
    import datetime as dt

    from data_mining_map_reduce_spark.streaming.streams import (
        session_window_counts,
    )

    # Time-ordered ARRIVAL — a replayable log's discipline. The file
    # source replays oldest-modification-first, and a single batch
    # write stamps every part file with the same mtime (arrival order
    # then arbitrary: late chunks get dropped as late data and the
    # test flakes), so each week lands as its own sequential append
    # with a strictly later mtime.
    import time as _time

    path = str(tmp_path / "events_stream_ranged")
    events_src = load_table(spark, sf_dir, "events")
    for lo, hi in [
        ("2024-01-01", "2024-01-09"),
        ("2024-01-09", "2024-01-17"),
        ("2024-01-17", "2024-01-25"),
        ("2024-01-25", "2024-02-02"),
    ]:
        events_src.where(
            (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
        ).coalesce(1).write.mode("append").parquet(path)
        _time.sleep(0.3)
    stream = file_stream(spark, path, TABLES["events"])
    q = (
        session_window_counts(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("session_parity")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Watermarks reported per batch. A session finalized by watermark
    # W is guaranteed emitted only once a batch RUNS with watermark W;
    # the last advance (from the final batch's own data) gets a
    # trailing flush batch only nondeterministically under
    # availableNow. So completeness is asserted against the
    # second-largest reported watermark — certainly flushed — while
    # exactness-of-boundaries is asserted against the full batch
    # aggregation.
    wms = sorted(
        {
            dt.datetime.strptime(
                p["eventTime"]["watermark"], "%Y-%m-%dT%H:%M:%S.%fZ"
            )
            for p in q.recentProgress
            if p["eventTime"].get("watermark", "").startswith("2")
        }
    )
    wm_flushed = wms[-2] if len(wms) >= 2 else wms[-1]
    got = {
        (r.user_id, r.session_start, r.session_end, r.n)
        for r in spark.sql("SELECT * FROM session_parity").collect()
    }
    events = load_table(spark, sf_dir, "events")
    want_all = {
        (r.user_id, r.session_start, r.session_end, r.n)
        for r in events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
        .collect()
    }
    certainly_flushed = {s for s in want_all if s[2] <= wm_flushed}
    assert got <= want_all  # nothing fabricated, boundaries identical
    assert got >= certainly_flushed, (
        len(got),
        len(certainly_flushed),
        len(want_all),
    )
    assert len(got) > 0


def test_weighted_sample_properties(spark, sf_dir):
    """A-ES weighted sampling: per-stratum size law, membership,
    determinism, and the weighting actually biting — a row whose
    weight dwarfs its stratum is (near-)always selected, one with
    vanishing weight never is, and zero/negative weights are
    excluded outright."""
    from data_mining_map_reduce_spark.streaming.reservoir import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    got = weighted_sample(
        docs, 10, "n_chars", strata=["lang"], seed=7, id_cols=["doc_id"]
    )
    rows = got.collect()
    per_lang: dict[str, int] = {}
    for r in rows:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
    lang_counts = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for lang, n in lang_counts.items():
        assert per_lang.get(lang, 0) == min(10, n), (lang, n)
    # determinism under the seed — and, with id_cols, under ANY
    # physical layout: a repartitioned input must yield the exact
    # same sample (content-hash draw, not per-partition rand)
    again = weighted_sample(
        docs.repartition(13, "lang"),
        10,
        "n_chars",
        strata=["lang"],
        seed=7,
        id_cols=["doc_id"],
    )
    assert {r.doc_id for r in rows} == {r.doc_id for r in again.collect()}

    # extreme weights dominate / vanish: u^(1/w) -> 1 for w >> 1,
    # -> 0 for w << 1 regardless of the uniform draw
    tiny = spark.createDataFrame(
        [(i, "x", 1e-9) for i in range(50)] + [(99, "x", 1e9)],
        "id long, s string, w double",
    )
    picked = {r.id for r in weighted_sample(tiny, 1, "w", strata=["s"]).collect()}
    assert picked == {99}
    zeroed = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 5.0)], "id long, w double"
    )
    assert {r.id for r in weighted_sample(zeroed, 3, "w").collect()} == {3}


def test_sample_content_key_injective_multi_column(spark):
    """ADVICE r6: multi-column id keys must be injective — a '|'
    inside a value or a NULL component must not make two distinct
    rows collide on the content-hash sort key. These four rows all
    collapsed to the same key under plain concat_ws."""
    from data_mining_map_reduce_spark.streaming.reservoir import _content_key_str

    rows = [
        ("a|b", "c"),
        ("a", "b|c"),
        ("a|b|c", None),
        (None, "a|b|c"),
    ]
    df = spark.createDataFrame(rows, "x string, y string")
    keys = df.select(_content_key_str(["x", "y"], seed=7).alias("k"))
    assert keys.distinct().count() == len(rows)
    # single-column form is unchanged (the SQL oracles replay it
    # verbatim as value || '|' || seed)
    one = spark.createDataFrame([("v",)], "x string").select(
        _content_key_str(["x"], seed=7).alias("k")
    )
    assert one.collect()[0].k == "v|7"


def _reference_fold(k, n, items, rows, capacity, seed):
    """The documented keyed-reservoir rule, written out: rows sorted
    by (order, item) with null orders last, then each one counted and
    kept or not in turn."""
    from data_mining_map_reduce_spark.streaming.stateful import _u01

    items = list(items)
    for _, item in sorted(rows, key=lambda r: (r[0] is None, r[0] or 0, r[1])):
        n += 1
        if len(items) < capacity:
            items.append(item)
        elif _u01(k, n, seed, "keep") < capacity / n:
            items[int(_u01(k, n, seed, "slot") * capacity)] = item
    return n, items


def _random_rows(rng, n_rows):
    """(order, item) rows in random arrival order, drawing the epoch
    microsecond orders from n_rows // 4 values (at least one), so any
    two or more rows share orders and the item has to break the ties."""
    base = 1_700_000_000_000_000
    orders = rng.integers(base, base + max(1, n_rows // 4), n_rows)
    items = rng.choice(10**9, n_rows, replace=False)
    return [(int(o), int(i)) for o, i in zip(orders, items)]


def _fold(k, n, items, rows, capacity, seed):
    import numpy as np

    from data_mining_map_reduce_spark.streaming.stateful import _fold_batch

    items = list(items)
    order = np.array([np.nan if o is None else o for o, _ in rows])
    if not np.isnan(order).any():
        order = order.astype(np.int64)
    n = _fold_batch(
        k, n, items, order, np.array([i for _, i in rows], dtype=np.int64),
        capacity, seed,
    )
    return n, items


def test_fold_batch_equals_sequential_reference():
    import numpy as np

    rng = np.random.default_rng(3)
    for k in range(40):
        rows = _random_rows(rng, int(rng.integers(1, 200)))
        capacity = int(rng.integers(1, 20))
        n0 = int(rng.integers(0, 50))
        prior = [int(x) for x in rng.choice(10**9, min(n0, capacity), replace=False)]
        assert _fold(k, n0, prior, rows, capacity, 7) == _reference_fold(
            k, n0, prior, rows, capacity, 7
        )


def test_fold_batch_null_orders_fold_last():
    """A null order value folds after every non-null one, nulls among
    themselves by item. With capacity >= rows the sample is the fold
    order itself."""
    rows = [(None, 5), (20, 3), (None, 1), (20, 2), (10, 9), (None, 4)]
    n, items = _fold(0, 0, [], rows, capacity=10, seed=7)
    assert (n, items) == (6, [9, 2, 3, 1, 4, 5])
    assert (n, items) == _reference_fold(0, 0, [], rows, capacity=10, seed=7)


def test_keyed_reservoir_null_orders_fold_last(spark, tmp_path):
    """End to end: a null ``ts`` reaches the Python fold as a null
    order key and folds last, as ``test_fold_batch_null_orders_fold_last``
    pins for ``_fold_batch``."""
    from data_mining_map_reduce_spark.streaming.stateful import keyed_reservoir

    path = str(tmp_path / "null_ts")
    spark.createDataFrame(
        [
            (1, 5, None), (1, 3, "2024-01-02 00:00:00"), (1, 1, None),
            (1, 2, "2024-01-02 00:00:00"), (1, 9, "2024-01-01 00:00:00"),
            (2, 7, None),
        ],
        "user_id long, event_id long, ts string",
    ).selectExpr("user_id", "event_id", "CAST(ts AS timestamp) ts").coalesce(
        1
    ).write.parquet(path)
    stream = file_stream(
        spark, path, "user_id long, event_id long, ts timestamp"
    )
    rows = run_stream_to_memory(
        keyed_reservoir(stream, capacity=10), "reservoir_null_ts", "update"
    )
    assert {r.user_id: (r.n_seen, list(r.sample)) for r in rows} == {
        1: (5, [9, 2, 3, 1, 5]),
        2: (1, [7]),
    }


def test_fold_batch_chunked_equals_whole():
    """Folding a batch at once equals folding it as consecutive chunks
    of its fold order (each chunk in any arrival order) with the
    count and sample carried between them, as micro-batches do."""
    import numpy as np

    rng = np.random.default_rng(5)
    for k in range(20):
        rows = _random_rows(rng, int(rng.integers(1, 300)))
        capacity = int(rng.integers(1, 16))
        whole = _fold(k, 0, [], rows, capacity, 7)
        ordered = sorted(rows)
        cuts = sorted(rng.choice(len(rows) + 1, int(rng.integers(1, 6))).tolist())
        n, items = 0, []
        for lo, hi in zip([0, *cuts], [*cuts, len(rows)]):
            chunk = [ordered[i] for i in rng.permutation(range(lo, hi))]
            n, items = _fold(k, n, items, chunk, capacity, 7)
        assert (n, items) == whole


def test_keyed_reservoir_samples_identical_across_shuffle_partitions(
    spark, sf_dir, tmp_path
):
    """The state partition count a stream starts with must not move a
    single sample: the fold is per key and its randomness hash-derived."""
    from data_mining_map_reduce_spark.streaming.stateful import keyed_reservoir

    path = _events_dir(spark, sf_dir, tmp_path)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    finals = []
    try:
        for parts in ("2", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            rows = run_stream_to_memory(
                keyed_reservoir(file_stream(spark, path, TABLES["events"]), capacity=8),
                f"reservoir_parts_{parts}",
                output_mode="update",
            )
            final: dict[int, tuple] = {}
            for r in rows:
                if r.user_id not in final or r.n_seen > final[r.user_id][0]:
                    final[r.user_id] = (r.n_seen, list(r.sample))
            finals.append(final)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(finals[0]) > 0
    assert finals[0] == finals[1]


def test_keyed_reservoir_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """A stream stopped after one file and restarted on the same
    checkpoint with a second file ends with the samples of one
    uninterrupted run over both: no key counted twice, no batch
    replayed. The first run writes its checkpoint through Spark's
    FileContext manager (the conf unset), so a checkpoint written
    before ``get_spark`` pinned the FileSystem manager resumes under it."""
    import os
    import shutil
    import time

    from data_mining_map_reduce_spark.session import CHECKPOINT_FILE_MANAGER
    from data_mining_map_reduce_spark.streaming.stateful import keyed_reservoir

    events = load_table(spark, sf_dir, "events")
    stamps = sorted(r.ts for r in events.where("ts IS NOT NULL").select("ts").collect())
    cut = stamps[len(stamps) // 2]
    early = F.coalesce(F.col("ts") <= cut, F.lit(False))  # null ts: second file
    halves = [events.where(early), events.where(~early)]
    src = tmp_path / "src"
    src.mkdir()

    def add_file(i):
        out = str(tmp_path / f"half{i}")
        halves[i].coalesce(1).write.parquet(out)
        (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
        dst = str(src / f"events{i}.parquet")
        shutil.move(os.path.join(out, part), dst)
        mtime = time.time() + i  # the second file is strictly newer
        os.utime(dst, (mtime, mtime))

    def run(cp):
        final: dict[int, tuple] = {}

        def fn(df, _bid):
            for r in df.collect():
                final[r.user_id] = (r.n_seen, list(r.sample))

        q = foreach_batch_sink(
            keyed_reservoir(file_stream(spark, str(src), TABLES["events"]), capacity=8),
            fn,
            checkpoint_dir=str(cp),
        )
        q.awaitTermination()
        assert q.exception() is None
        return final

    key = "spark.sql.streaming.checkpointFileManagerClass"
    cp = tmp_path / "cp"
    add_file(0)
    prev = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        first = run(cp)
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
    assert spark.conf.get(key) == CHECKPOINT_FILE_MANAGER
    add_file(1)
    resumed = {**first, **run(cp)}
    whole = run(tmp_path / "cp_whole")

    counts = {
        r.user_id: r["count"] for r in events.groupBy("user_id").count().collect()
    }
    assert {k: n for k, (n, _) in resumed.items()} == counts
    assert resumed == whole
    assert sorted(f for f in os.listdir(cp / "commits") if f.isdigit()) == ["0", "1"]


def test_reservoir_foreach_batch_breaks_order_ties_by_columns(spark):
    """Rows tied on ``order_col`` feed in the order of the remaining
    columns, not in file order: the planted ties below sit in file
    order opposite to column order."""
    batch = spark.createDataFrame(
        [(1, 3, "c"), (1, 2, "b"), (1, 1, "a"), (0, 9, "z"), (1, 1, "0")],
        "t long, x long, y string",
    ).coalesce(1)
    sampler = ReservoirSampler(capacity=10, seed=7)
    sampler.foreach_batch("t")(batch, 0)
    assert [tuple(r) for r in sampler.items] == [
        (0, 9, "z"), (1, 1, "0"), (1, 1, "a"), (1, 2, "b"), (1, 3, "c"),
    ]
