"""applyInPandasWithState user-reducer + push-hub fan-out tests (§2.8, S8/T11)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.test_streaming import TRADE_SCHEMA, _trade, _write_chunk
from ts_data_pipeline_spark.streaming import custom_state, windowed


def _initializer():
    # option_trade_aggs-style seed (main.py:143-188): zeroed counters.
    return {"trade_count": 0, "premium_sum": 0.0}


def _reducer(acc, rec):
    # main.py:85-140 shape: fold one record into the accumulator.
    acc["trade_count"] += 1
    acc["premium_sum"] = round(acc["premium_sum"] + rec["premium"], 4)
    return acc


def test_user_reducer_matches_declarative_finals(spark, tmp_path):
    """The arbitrary-reducer path must agree with the declarative agg
    on every emitted (closed) window."""
    data_dir = str(tmp_path / "data")
    _write_chunk(spark, [
        _trade("A", "2024-01-01 10:00:10", premium=5.0),
        _trade("A", "2024-01-01 10:00:50", premium=7.0),
        _trade("B", "2024-01-01 10:00:30", premium=2.5),
    ], data_dir)
    _write_chunk(spark, [_trade("A", "2024-01-01 10:02:30", premium=11.0)], data_dir)
    _write_chunk(spark, [_trade("B", "2024-01-01 10:10:00", premium=13.0)], data_dir)
    _write_chunk(spark, [
        _trade("A", "2024-01-01 10:00:30", premium=999.0),  # late -> dropped
        _trade("A", "2024-01-01 10:11:00", premium=17.0),
    ], data_dir)

    stream = windowed.parquet_stream(spark, data_dir, TRADE_SCHEMA, max_files=1)
    agg = custom_state.keyed_window_reduce(
        stream,
        _initializer,
        _reducer,
        value_fields=(("trade_count", "long"), ("premium_sum", "double")),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_user_reduce")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start.isoformat(), r.osym): (r.trade_count, r.premium_sum)
        for r in spark.table("t_user_reduce").collect()
    }
    # Window [10:00] for A: late 999.0 excluded -> 2 trades, 12.0.
    assert got[("2024-01-01T10:00:00", "A")] == (2, 12.0)
    assert got[("2024-01-01T10:00:00", "B")] == (1, 2.5)
    assert got[("2024-01-01T10:02:00", "A")] == (1, 11.0)
    # Trailing windows stay open in a bounded run.
    assert ("2024-01-01T10:10:00", "B") not in got
    assert ("2024-01-01T10:11:00", "A") not in got


def test_user_reduce_flushes_at_exact_watermark_boundary(spark, tmp_path):
    """A window whose end EQUALS the final watermark must flush for a
    key receiving no data in the closing batch. Event-time timeouts
    fire only when the watermark strictly exceeds the set timestamp,
    so keyed_window_reduce arms the timeout at window_end - 1 ms —
    without that, this boundary window is silently lost while the
    built-in agg (and the registered oracle's window_end <= watermark
    cutoff) emits it."""
    data_dir = str(tmp_path / "data")
    # Batch 0: key A in [10:00, 10:01). Batch 1: only key B, max ts
    # 10:01:01.000 -> final watermark lands exactly on A's window end.
    _write_chunk(spark, [_trade("A", "2024-01-01 10:00:30", premium=5.0)], data_dir)
    _write_chunk(spark, [_trade("B", "2024-01-01 10:01:01", premium=1.0)], data_dir)
    stream = windowed.parquet_stream(spark, data_dir, TRADE_SCHEMA, max_files=1)
    agg = custom_state.keyed_window_reduce(
        stream,
        _initializer,
        _reducer,
        value_fields=(("trade_count", "long"), ("premium_sum", "double")),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_ureduce_boundary")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_ureduce_boundary").collect()
    assert [(r.osym, r.window_start.isoformat(), r.trade_count) for r in rows] == [
        ("A", "2024-01-01T10:00:00", 1)
    ]


def test_push_hub_wildcard_fanout(spark):
    """S8/T11: wildcard and exact subscriptions each receive the
    matching columnar slice of every batch."""
    hub = custom_state.PushHub()
    got_all, got_one = [], []
    hub.subscribe("*", "*", got_all.append)
    hub.subscribe("s1", "temp", got_one.append)

    batch = spark.createDataFrame(
        [
            ("s1", "temp", 21.5),
            ("s1", "rpm", 900.0),
            ("s2", "temp", 19.0),
        ],
        "stream_id string, parameter_id string, num_value double",
    )
    hub.foreach_batch(batch, 0)

    assert len(got_all) == 1 and len(got_all[0]["num_value"]) == 3
    assert got_one == [
        {"stream_id": ["s1"], "parameter_id": ["temp"], "num_value": [21.5]}
    ]


def test_push_hub_caps_rows_per_batch(spark):
    """A hot batch under a wildcard subscription truncates at the cap
    instead of collecting unbounded rows to the driver; rows outside
    every subscription never count against the cap (the predicate is
    pushed into the batch plan)."""
    hub = custom_state.PushHub(max_rows_per_batch=5)
    got = []
    hub.subscribe("s1", "*", got.append)

    batch = spark.createDataFrame(
        [("s1", "temp", float(i)) for i in range(20)]
        + [("s2", "temp", -1.0)] * 30,  # unmatched: must not eat the cap
        "stream_id string, parameter_id string, num_value double",
    )
    hub.foreach_batch(batch, 0)
    assert len(got) == 1 and len(got[0]["num_value"]) == 5
    assert all(v >= 0 for v in got[0]["num_value"])  # only s1 rows
    assert hub.truncated_batches == 1

    # Under the cap: everything arrives, no truncation counted.
    hub2 = custom_state.PushHub(max_rows_per_batch=100)
    got2 = []
    hub2.subscribe("s1", "*", got2.append)
    hub2.foreach_batch(batch, 1)
    assert len(got2[0]["num_value"]) == 20
    assert hub2.truncated_batches == 0


def test_progress_monitor_collects_batch_metrics(spark, tmp_path):
    """Q1-Q6 live form: the listener sees every micro-batch's row
    counts/durations and summarizes them driver-side."""
    from ts_data_pipeline_spark.streaming.monitor import ProgressMonitor

    mon = ProgressMonitor(alert_after=3)
    spark.streams.addListener(mon)
    try:
        data_dir = str(tmp_path / "data")
        _write_chunk(spark, [_trade("A", "2024-01-01 10:00:10")], data_dir)
        _write_chunk(spark, [_trade("A", "2024-01-01 10:05:00")], data_dir)
        stream = windowed.parquet_stream(spark, data_dir, TRADE_SCHEMA, max_files=1)
        agg = windowed.streaming_option_window_agg(stream)
        q = windowed.run_available_now(agg, "t_monitor", str(tmp_path / "ckpt"))
        # Listener delivery is async; progress arrives shortly after.
        import time

        for _ in range(40):
            if sum(m.num_input_rows for m in mon.state.metrics) >= 2:
                break
            time.sleep(0.25)
        s = mon.summary()
        assert s["total_rows"] >= 2
        assert s["n_batches"] >= 2
        assert s["avg_batch_ms"] is None or s["avg_batch_ms"] > 0
        # The listener is session-wide: the query id picks this
        # stream's rows, which are every batch it ran.
        mine = [m for m in mon.state.metrics if m.query_id == q.id]
        assert sum(m.num_input_rows for m in mine) >= 2
        assert [m.batch_id for m in mine] == list(range(len(mine)))
        # The state operator's width is the session's shuffle
        # partitions, and every batch commits its state store, its
        # offsets log and its source offsets.
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert all(m.state_partitions == width for m in mine)
        assert all(m.state_commit_ms >= 0 for m in mine)
        assert all(m.wal_ms >= 0 for m in mine)
        assert all(m.offsets_ms >= 0 for m in mine)
    finally:
        spark.streams.removeListener(mon)


def test_push_hub_as_streaming_sink(spark, tmp_path):
    """The hub plugs into writeStream.foreachBatch (the dashboard
    live path, App.js:59-61) and sees every micro-batch."""
    data_dir = str(tmp_path / "data")
    _write_chunk(spark, [_trade("A", "2024-01-01 10:00:10", premium=5.0)], data_dir)
    _write_chunk(spark, [_trade("B", "2024-01-01 10:01:00", premium=7.0)], data_dir)

    hub = custom_state.PushHub()
    seen = []
    hub.subscribe("*", "*", seen.append)
    stream = windowed.parquet_stream(spark, data_dir, TRADE_SCHEMA, max_files=1)
    feed = stream.select(
        F.col("osym").alias("stream_id"),
        F.lit("premium").alias("parameter_id"),
        F.col("premium").alias("num_value"),
    )
    q = (
        feed.writeStream.foreachBatch(hub.foreach_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    flat = [v for d in seen for v in d["num_value"]]
    assert sorted(flat) == [5.0, 7.0]

