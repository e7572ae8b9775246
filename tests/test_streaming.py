"""Structured-Streaming semantics tests (SURVEY §2.6, pytest-gated
because emission timing is not SQL-expressible — SURVEY §5).

Covers T1 event-time windows, T2 watermark late-data handling, T3
append-mode emit-final, T4/T7 checkpointed availableNow replay.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import SF_DIR
from ts_data_pipeline_spark import io
from ts_data_pipeline_spark.operators import trades, window_agg
from ts_data_pipeline_spark.streaming import windowed

TRADE_SCHEMA = T.StructType(
    [
        T.StructField("osym", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("premium", T.DoubleType()),
        T.StructField("qty", T.IntegerType()),
        T.StructField("side", T.StringType()),
        T.StructField("otype", T.StringType()),
        T.StructField("whale", T.BooleanType()),
    ]
)


def _trade(osym, ts, premium=10.0, qty=1, side="buy", otype="call", whale=False):
    import datetime as dt

    return (osym, dt.datetime.fromisoformat(ts), premium, qty, side, otype, whale)


def _write_chunk(spark, rows, path):
    spark.createDataFrame(rows, TRADE_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _run(spark, data_dir, ckpt, name):
    stream = windowed.parquet_stream(spark, data_dir, TRADE_SCHEMA, max_files=1)
    agg = windowed.streaming_option_window_agg(stream)
    windowed.run_available_now(agg, name, ckpt)
    return spark.table(name)


def test_append_mode_emits_closed_windows_and_drops_late(spark, tmp_path):
    """T2+T3: a record arriving after its window's state was evicted
    (watermark passed the window end in a prior batch) is dropped;
    windows emit exactly once with final values.

    Pinned Spark semantics (empirical, matches the docs' guarantee):
    a late row landing in the SAME batch that evicts its window still
    merges — dropping is guaranteed only once the watermark passed
    the window end in an earlier batch. That is exactly Quix's
    ``grace_ms`` contract too (reference option_trade_aggs/
    main.py:222): grace bounds how long a closed window accepts
    stragglers, SURVEY §7 risk 3.
    """
    data_dir = str(tmp_path / "data")
    # Batch 0: two trades in the 10:00 window.
    _write_chunk(spark, [
        _trade("A", "2024-01-01 10:00:10", premium=5.0),
        _trade("A", "2024-01-01 10:00:50", premium=7.0),
    ], data_dir)
    # Batch 1: 10:02:30 -> next batch's watermark passes 10:01.
    _write_chunk(spark, [_trade("A", "2024-01-01 10:02:30", premium=11.0)], data_dir)
    # Batch 2: watermark 10:02:29 -> evicts+emits window [10:00,10:01).
    _write_chunk(spark, [_trade("A", "2024-01-01 10:10:00", premium=13.0)], data_dir)
    # Batch 3: watermark 10:09:59; the 10:00:30 record is now late
    # beyond eviction -> droppedByWatermark.
    _write_chunk(spark, [
        _trade("A", "2024-01-01 10:00:30", premium=999.0),  # late, dropped
        _trade("A", "2024-01-01 10:11:00", premium=17.0),
    ], data_dir)

    out = _run(spark, data_dir, str(tmp_path / "ckpt"), "t_late")
    rows = {r.window_start.isoformat(): r for r in out.collect()}

    assert "2024-01-01T10:00:00" in rows, rows.keys()
    w1 = rows["2024-01-01T10:00:00"]
    # Late 999.0 premium excluded: final = 5 + 7 only.
    assert w1.trade_count == 2
    assert w1.bought_call_prem == pytest.approx(12.0)
    # Window [10:02,10:03) closed by batch 3's watermark.
    assert rows["2024-01-01T10:02:00"].bought_call_prem == pytest.approx(11.0)
    # Trailing windows (10:10, 10:11) never emit: the watermark never
    # passes their end within the bounded run.
    assert "2024-01-01T10:10:00" not in rows
    assert "2024-01-01T10:11:00" not in rows


def test_append_emits_at_exact_watermark_boundary(spark, tmp_path):
    """Boundary pin for the streaming oracle's cutoff predicate:
    append mode emits a window when window_end <= watermark — i.e.
    EXACT equality (watermark = ms-floored max event time - grace
    landing precisely on the window end) still emits. The registered
    DuckDB oracles for streaming_window_finals / streaming_user_reduce
    encode this as `window_end <= floor_ms(max ts) - 1s`."""
    data_dir = str(tmp_path / "data")
    # Batch 0: one trade in [10:00, 10:01).
    _write_chunk(spark, [_trade("A", "2024-01-01 10:00:30", premium=5.0)], data_dir)
    # Batch 1: max ts 10:01:01.000 -> watermark = exactly 10:01:00.
    _write_chunk(spark, [_trade("A", "2024-01-01 10:01:01", premium=5.0)], data_dir)
    out = _run(spark, data_dir, str(tmp_path / "ckpt"), "t_wm_boundary")
    starts = [r.window_start.isoformat() for r in out.collect()]
    assert starts == ["2024-01-01T10:00:00"], starts


def test_streaming_finals_match_batch_for_closed_windows(spark, tmp_path):
    """T1+T3: every emitted (final) window must byte-match the batch
    aggregation of the same input — same expressions, same results."""
    enriched = trades.events_as_option_trades(io.load(spark, SF_DIR, "events"))
    data_dir = str(tmp_path / "data")
    from pyspark.sql import Window

    chunks = enriched.withColumn("chunk", F.ntile(3).over(Window.orderBy("ts")))
    for i in (1, 2, 3):
        chunks.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    stream = windowed.parquet_stream(spark, data_dir, enriched.schema, max_files=1)
    agg = windowed.streaming_option_window_agg(stream)
    windowed.run_available_now(agg, "t_finals", str(tmp_path / "ckpt"))
    got = spark.table("t_finals").collect()
    assert len(got) > 0

    expected = {
        (r.window_start, r.osym): r
        for r in window_agg.option_window_agg(enriched).collect()
    }
    for r in got:
        e = expected[(r.window_start, r.osym)]
        assert r == e, (r, e)


def test_stream_stream_time_bounded_join(spark, tmp_path):
    """Stream-stream inner join with an event-time range condition:
    pairs arrive correctly across micro-batches and match the batch
    join of the same inputs."""
    import datetime as dt

    from pyspark.sql import types as T

    QUOTE_SCHEMA = T.StructType([
        T.StructField("r_osym", T.StringType()),
        T.StructField("quote_ts", T.TimestampType()),
        T.StructField("quote_px", T.DoubleType()),
    ])

    def q(sym, ts, px):
        return (sym, dt.datetime.fromisoformat(ts), px)

    trades_dir = str(tmp_path / "trades")
    quotes_dir = str(tmp_path / "quotes")
    _write_chunk(spark, [
        _trade("A", "2024-01-01 10:05:00", premium=5.0),
        _trade("B", "2024-01-01 10:06:00", premium=6.0),
    ], trades_dir)
    spark.createDataFrame([
        q("A", "2024-01-01 10:00:00", 1.0),   # within 10 min of A's trade
        q("A", "2024-01-01 10:04:30", 1.5),   # also within
        q("A", "2024-01-01 09:40:00", 0.5),   # too old -> excluded
        q("B", "2024-01-01 10:07:00", 2.0),   # newer than trade -> excluded
        q("B", "2024-01-01 10:03:00", 2.5),   # within
    ], QUOTE_SCHEMA).coalesce(1).write.mode("append").parquet(quotes_dir)

    trades = windowed.parquet_stream(spark, trades_dir, TRADE_SCHEMA)
    quotes = spark.readStream.schema(QUOTE_SCHEMA).parquet(quotes_dir)
    joined = windowed.stream_stream_time_join(
        trades, quotes, key="osym", left_ts="ts", right_ts="quote_ts",
        lookback="10 minutes",
    ).select("osym", "ts", "premium", "quote_ts", "quote_px")
    qr = (
        joined.writeStream.format("memory")
        .queryName("t_ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    qr.awaitTermination()
    got = sorted(
        (r.osym, r.quote_px) for r in spark.table("t_ss_join").collect()
    )
    assert got == [("A", 1.0), ("A", 1.5), ("B", 2.5)], got


def test_avro_roundtrip_or_env_gated(spark):
    """S6: Avro value codec against a pinned schema. The container
    ships pyspark without the spark-avro jar, so either the roundtrip
    works (jar present) or it fails with the documented Avro-not-
    loaded error — never a silent wrong result."""
    from ts_data_pipeline_spark.streaming import kafka_io

    df = spark.createDataFrame(
        [(1, "AAPL", 1.5)], "trade_id long, sym string, px double"
    )
    schema = (
        '{"type":"record","name":"trade","fields":['
        '{"name":"trade_id","type":"long"},{"name":"sym","type":"string"},'
        '{"name":"px","type":"double"}]}'
    )
    try:
        enc = kafka_io.to_avro_value(df, ["trade_id", "sym", "px"], schema)
        back = kafka_io.from_avro_value(enc.select("value"), schema).collect()
    except NotImplementedError:
        pytest.skip("pyspark avro functions module unavailable")
    except Exception as exc:
        assert "AVRO" in str(exc).upper(), exc
        pytest.skip("spark-avro jar not on classpath (documented gate)")
    else:
        assert [(r.trade_id, r.sym, r.px) for r in back] == [(1, "AAPL", 1.5)]


def test_checkpoint_resume_no_double_count(spark, tmp_path):
    """T4: re-running availableNow with the same checkpoint after new
    data arrives appends only new finals (exactly-once per window) —
    the Spark analog of the reference's changelog-backed recovery
    (option_trade_aggs/main.py:75-82, quix.yaml:54-56). Uses the
    (fault-tolerant) file sink: the memory sink cannot recover."""
    data_dir = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_once():
        stream = windowed.parquet_stream(spark, data_dir, TRADE_SCHEMA, max_files=1)
        agg = windowed.streaming_option_window_agg(stream)
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).collect()

    _write_chunk(spark, [_trade("A", "2024-01-01 10:00:10")], data_dir)
    _write_chunk(spark, [_trade("A", "2024-01-01 10:05:00")], data_dir)
    out1 = run_once()
    starts1 = sorted(r.window_start for r in out1)

    # New data closes the 10:05 window on the resumed run.
    _write_chunk(spark, [_trade("A", "2024-01-01 10:20:00")], data_dir)
    out_all = run_once()
    starts_all = sorted(r.window_start for r in out_all)

    # Resume processed only the new file: prior finals appear exactly
    # once, and the newly closed 10:05 window was appended.
    assert len(starts_all) == len(set(starts_all))
    assert set(starts1) < set(starts_all)


def test_streaming_session_windows_match_batch(spark, tmp_path):
    """Native session_window under streaming (merging window state):
    every emitted (closed) session must byte-match the batch
    session_window of the same input."""
    events = io.load(spark, SF_DIR, "events").select("user_id", "ts")
    data_dir = str(tmp_path / "data")
    from pyspark.sql import Window as W

    chunks = events.withColumn("chunk", F.ntile(3).over(W.orderBy("ts")))
    for i in (1, 2, 3):
        chunks.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    stream = windowed.parquet_stream(spark, data_dir, events.schema, max_files=1)
    agg = windowed.streaming_sessionize(stream)
    windowed.run_available_now(agg, "t_sessions", str(tmp_path / "ckpt"))
    got = {
        (r.key, r.session_start, r.session_end, r.n_events)
        for r in spark.table("t_sessions").collect()
    }
    assert got

    batch = {
        (r.key, r.session_start, r.session_end, r.n_events)
        for r in events.groupBy(
            F.col("user_id").alias("key"),
            F.session_window("ts", "30 minutes").alias("_w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "key",
            F.col("_w.start").alias("session_start"),
            F.col("_w.end").alias("session_end"),
            "n_events",
        )
        .collect()
    }
    # append emits only watermark-closed sessions; every emitted one
    # must exist verbatim in the batch result
    assert got <= batch
    # and nearly all sessions close in a bounded replay (only the
    # trailing sessions per key can stay open)
    assert len(got) >= len(batch) * 0.8, (len(got), len(batch))


def test_upsert_sink_exactly_once_keyed_merge(spark, tmp_path):
    """foreachBatch versioned upsert: the final table holds the
    latest row per key across all micro-batches (== batch SCD1), and
    re-delivering an already-applied batch id neither duplicates rows
    nor changes values."""
    import datetime as dt

    from ts_data_pipeline_spark.streaming import upsert_sink

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    updates = [
        [("a", t(0), 1.0), ("b", t(1), 2.0)],
        [("a", t(5), 3.0), ("c", t(6), 4.0)],
        [("b", t(9), 5.0), ("b", t(8), 99.0)],  # in-batch: latest ts wins
    ]
    data_dir = str(tmp_path / "updates")
    schema = "key string, ts timestamp, val double"
    for chunk in updates:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    stream = windowed.parquet_stream(
        spark, data_dir, spark.read.parquet(data_dir).schema, max_files=1
    )
    table_dir = str(tmp_path / "table")
    q = (
        stream.writeStream.foreachBatch(
            upsert_sink.upsert_writer(table_dir, key_col="key", ts_col="ts")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = upsert_sink.read_table(spark, table_dir)
    got = {(r.key, r.val) for r in final.collect()}
    # batch SCD1 expectation: last value per key by ts
    allrows = spark.createDataFrame(
        [r for chunk in updates for r in chunk], schema
    )
    from pyspark.sql import Window as W

    want = {
        (r.key, r.val)
        for r in allrows.withColumn(
            "_rn", F.row_number().over(W.partitionBy("key").orderBy(F.col("ts").desc()))
        )
        .filter("_rn = 1")
        .collect()
    }
    assert got == want == {("a", 3.0), ("b", 5.0), ("c", 4.0)}

    # re-deliver the last batch verbatim: values and counts unchanged
    last_applied = max(
        int(d[1:]) for d in __import__("os").listdir(table_dir) if d.startswith("b")
    )
    upsert_sink.upsert_batch(
        spark,
        table_dir,
        spark.createDataFrame(updates[-1], schema),
        last_applied,
        key_col="key",
        ts_col="ts",
    )
    again = {(r.key, r.val) for r in upsert_sink.read_table(spark, table_dir).collect()}
    assert again == want


def test_delete_keys_purges_and_is_idempotent(spark, tmp_path):
    """Right-to-erasure on the versioned table: a delete version drops
    the keys, repoints _CURRENT, and re-running the same delete
    version is a no-op."""
    import datetime as dt

    from ts_data_pipeline_spark.streaming import upsert_sink

    table_dir = str(tmp_path / "table")
    rows = [("a", dt.datetime(2024, 1, 1), 1.0),
            ("b", dt.datetime(2024, 1, 2), 2.0),
            ("c", dt.datetime(2024, 1, 3), 3.0)]
    batch = spark.createDataFrame(rows, "key string, ts timestamp, val double")
    upsert_sink.upsert_batch(
        spark, table_dir, batch, 0, key_col="key", ts_col="ts"
    )
    keys = spark.createDataFrame([("b",)], "key string")
    upsert_sink.delete_keys(spark, table_dir, keys, key_col="key", version=1)
    got = {r.key for r in upsert_sink.read_table(spark, table_dir).collect()}
    assert got == {"a", "c"}
    upsert_sink.delete_keys(spark, table_dir, keys, key_col="key", version=1)
    assert {
        r.key for r in upsert_sink.read_table(spark, table_dir).collect()
    } == {"a", "c"}


def test_upsert_sink_recovers_from_half_written_version(spark, tmp_path):
    """A version directory without _SUCCESS is a crashed half-write:
    re-delivery must REDO the merge (rewriting the directory), never
    repoint _CURRENT at truncated data. And delete versions live in
    their own namespace, so a delete token equal to a future batch id
    cannot swallow that batch."""
    import datetime as dt
    import os
    import shutil

    from ts_data_pipeline_spark.streaming import upsert_sink

    table_dir = str(tmp_path / "table")
    schema = "key string, ts timestamp, val double"
    b0 = spark.createDataFrame([("a", dt.datetime(2024, 1, 1), 1.0)], schema)
    upsert_sink.upsert_batch(spark, table_dir, b0, 0, key_col="key", ts_col="ts")

    # simulate a crash mid-write of batch 1: directory exists, no _SUCCESS
    half = os.path.join(table_dir, "b1")
    os.makedirs(half)
    with open(os.path.join(half, "part-garbage.parquet"), "w") as f:
        f.write("truncated")
    b1 = spark.createDataFrame([("b", dt.datetime(2024, 1, 2), 2.0)], schema)
    upsert_sink.upsert_batch(spark, table_dir, b1, 1, key_col="key", ts_col="ts")
    got = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    assert got == {("a", 1.0), ("b", 2.0)}
    assert os.path.exists(os.path.join(table_dir, "b1", "_SUCCESS"))

    # delete token 2 does not collide with a later batch_id 2
    upsert_sink.delete_keys(
        spark, table_dir, spark.createDataFrame([("a",)], "key string"),
        key_col="key", version=2,
    )
    b2 = spark.createDataFrame([("c", dt.datetime(2024, 1, 3), 3.0)], schema)
    upsert_sink.upsert_batch(spark, table_dir, b2, 2, key_col="key", ts_col="ts")
    final = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    assert final == {("b", 2.0), ("c", 3.0)}  # delete applied AND batch kept
    shutil.rmtree(table_dir)


def test_upsert_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB merge contract: a small batch against a large keyed
    state rewrites ONLY the hash buckets holding batch keys; every
    other bucket carries forward by manifest reference into the older
    version's directory. (The r5 sink rewrote the FULL state per
    micro-batch — O(|table|) I/O per trigger.)"""
    import datetime as dt
    import json
    import os

    from ts_data_pipeline_spark.streaming import upsert_sink

    table_dir = str(tmp_path / "table")
    schema = "key string, ts timestamp, val double"
    base = dt.datetime(2024, 1, 1)
    big = spark.createDataFrame(
        [(f"k{i}", base, float(i)) for i in range(64)], schema
    )
    upsert_sink.upsert_batch(
        spark, table_dir, big, 0, key_col="key", ts_col="ts", n_buckets=8
    )
    m0 = json.load(open(os.path.join(table_dir, "b0", "_MANIFEST.json")))
    assert m0["n_buckets"] == 8
    assert len(m0["buckets"]) == 8  # 64 keys cover all 8 buckets
    assert all(rel.startswith("b0/") for rel in m0["buckets"].values())

    # one-key batch: exactly ONE bucket dir written under b1
    b1 = spark.createDataFrame([("k3", base + dt.timedelta(1), 99.0)], schema)
    upsert_sink.upsert_batch(
        spark, table_dir, b1, 1, key_col="key", ts_col="ts"
    )
    written = [
        d for d in os.listdir(os.path.join(table_dir, "b1"))
        if d.startswith("tdp_bucket=")
    ]
    assert len(written) == 1, written
    m1 = json.load(open(os.path.join(table_dir, "b1", "_MANIFEST.json")))
    carried = [rel for rel in m1["buckets"].values() if rel.startswith("b0/")]
    assert len(carried) == 7  # 7 of 8 buckets untouched, by reference
    assert m1["seq"] == m0["seq"] + 1

    # and the merged view is still exact
    final = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    want = {(f"k{i}", float(i)) for i in range(64) if i != 3} | {("k3", 99.0)}
    assert final == want


def test_upsert_redelivery_cannot_roll_back_a_delete(spark, tmp_path):
    """Forward-only _CURRENT: re-delivering an already-committed
    batch AFTER a compliance delete must not repoint the table at the
    pre-delete version — that would resurrect erased keys and break
    the GDPR contract. The commit-sequence guard skips the stale
    repoint."""
    import datetime as dt

    from ts_data_pipeline_spark.streaming import upsert_sink

    table_dir = str(tmp_path / "table")
    schema = "key string, ts timestamp, val double"
    base = dt.datetime(2024, 1, 1)
    b0 = spark.createDataFrame(
        [("a", base, 1.0), ("b", base, 2.0)], schema
    )
    upsert_sink.upsert_batch(spark, table_dir, b0, 0, key_col="key", ts_col="ts")
    b1 = spark.createDataFrame([("c", base, 3.0)], schema)
    upsert_sink.upsert_batch(spark, table_dir, b1, 1, key_col="key", ts_col="ts")
    upsert_sink.delete_keys(
        spark, table_dir, spark.createDataFrame([("a",)], "key string"),
        key_col="key", version=1,
    )
    assert {
        r.key for r in upsert_sink.read_table(spark, table_dir).collect()
    } == {"b", "c"}

    # crash-recovery re-delivery of batch 1: merge is skipped
    # (committed) AND the pointer must stay on the delete version
    upsert_sink.upsert_batch(spark, table_dir, b1, 1, key_col="key", ts_col="ts")
    assert {
        r.key for r in upsert_sink.read_table(spark, table_dir).collect()
    } == {"b", "c"}  # 'a' stays erased


def test_streaming_funnel_matches_batch_verdicts(spark, tmp_path):
    """Streaming CEP funnel: every emitted final verdict must match
    the batch funnel_conversions on the same input — same conversion
    flag, same in-horizon converted_at — for every from-event whose
    decision horizon the watermark passed."""
    import datetime as dt

    from ts_data_pipeline_spark.operators import tsstats
    from ts_data_pipeline_spark.streaming import cep

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
    ])
    base = dt.datetime(2024, 1, 1, 10, 0)
    m = lambda k: base + dt.timedelta(minutes=k)
    chunks = [
        # u1: view@0 -> purchase@3 (converts); u2: view@1, no purchase
        [(0, 1, m(0), "view"), (1, 2, m(1), "view"), (2, 1, m(3), "purchase")],
        # u2: purchase@9 — outside the 5-min horizon of view@1
        [(3, 2, m(9), "purchase"), (4, 1, m(10), "view")],
        # u1: purchase@12 (converts view@10); advance watermark
        [(5, 1, m(12), "purchase"), (6, 3, m(40), "view")],
        # final watermark pusher: horizon of view@10 (=15) closes
        [(7, 3, m(60), "click")],
    ]
    data_dir = str(tmp_path / "data")
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    stream = windowed.parquet_stream(spark, data_dir, schema, max_files=1)
    out = cep.streaming_funnel(stream, "view", "purchase", 5)
    windowed.run_available_now(out, "t_cep_funnel", str(tmp_path / "ckpt"))
    got = {
        r.event_id: (r.converted, r.converted_at)
        for r in spark.table("t_cep_funnel").collect()
    }

    allrows = spark.createDataFrame(
        [r for c in chunks for r in c], schema
    )
    batch = tsstats.funnel_conversions(allrows, "view", "purchase", 5)
    # the stream finalizes from-events whose horizon < final watermark
    # (max event time - 1s grace); view@40 (horizon 45) closes too.
    want = {
        r.event_id: (r.converted, r.converted_at if r.converted else None)
        for r in batch.collect()
    }
    assert set(got) == set(want) == {0, 1, 4, 6}
    for eid in got:
        assert got[eid][0] == want[eid][0], (eid, got[eid], want[eid])
        if got[eid][0]:
            assert got[eid][1] == want[eid][1], eid
    assert got[0][0] and got[6][0] is False and got[1][0] is False


def test_streaming_funnel_resumes_from_checkpoint(spark, tmp_path):
    """A CEP query stopped after the first half of a replay and
    restarted on the same checkpoint emits, across both runs, exactly
    the rows of one uninterrupted run: open from-events, their
    witnesses and the timeout armed for them survive the restart
    through the operator's JSON state. Uses the (fault-tolerant) file
    sink: the memory sink cannot recover."""
    import datetime as dt

    from ts_data_pipeline_spark.streaming import cep

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
    ])
    base = dt.datetime(2024, 1, 1, 10, 0)
    m = lambda k: base + dt.timedelta(minutes=k)
    # One file per run; u2 view@8 and u3 view@9 are still open when
    # the first run stops.
    first = [
        (0, 1, m(0), "view"), (1, 2, m(1), "view"), (2, 1, m(3), "purchase"),
        (3, 2, m(8), "view"), (4, 3, m(9), "view"), (5, 9, m(10), "click"),
    ]
    # u2 converts from state; u3 gets no more data and is decided by
    # the timeout armed before the restart; u4's purchase lands past
    # its 5-minute horizon.
    second = [
        (6, 2, m(12), "purchase"), (7, 4, m(18), "view"),
        (8, 4, m(30), "purchase"), (9, 9, m(40), "click"),
    ]
    data_dir = str(tmp_path / "data")

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    def run(name):
        stream = windowed.parquet_stream(spark, data_dir, schema, max_files=1)
        q = (
            cep.streaming_funnel(stream, "view", "purchase", 5)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(tmp_path / name / "out"))
            .option("checkpointLocation", str(tmp_path / name / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.event_id, r.key, r.ts, r.converted_at, r.converted)
            for r in spark.read.parquet(str(tmp_path / name / "out")).collect()
        }

    write(first)
    before = run("resumed")
    write(second)
    resumed = run("resumed")
    one_shot = run("one_shot")

    assert resumed == one_shot
    assert {r[0] for r in before} == {0, 1}
    assert {r[0]: (r[4], r[3]) for r in resumed} == {
        0: (True, m(3)), 1: (False, None), 3: (True, m(12)),
        4: (False, None), 7: (False, None),
    }


def test_streaming_zscore_alerts_match_batch(spark, tmp_path):
    """Streaming z-score alerting: emitted anomalies must equal the
    batch rolling_zscore_anomalies rows (same ids, same 4-dp z) over
    the finalized region, with the same preceding-rows-only
    baseline."""
    import datetime as dt

    from ts_data_pipeline_spark.operators import quality as qops
    from ts_data_pipeline_spark.streaming import cep

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        v = 100.0 if i == 20 else 10.0 + (i % 3)
        rows.append((i, 1, base + dt.timedelta(minutes=i), v))
        rows.append((100 + i, 2, base + dt.timedelta(minutes=i), 5.0 + (i % 2)))
    # key 2 gets its own spike at a different position
    rows = [r if r[0] != 110 else (110, 2, r[2], -50.0) for r in rows]
    chunks = [rows[:20], rows[20:45], rows[45:]]
    data_dir = str(tmp_path / "data")
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    stream = windowed.parquet_stream(spark, data_dir, schema, max_files=1)
    out = cep.streaming_zscore_alerts(
        stream, lookback=10, z_threshold=3.0, min_history=5
    )
    windowed.run_available_now(out, "t_cep_z", str(tmp_path / "ckpt"))
    got = {
        (r.event_id, r.n_hist, r.z)
        for r in spark.table("t_cep_z").collect()
    }

    batch = qops.rolling_zscore_anomalies(
        spark.createDataFrame(rows, schema),
        lookback=10, z_threshold=3.0, min_history=5,
    )
    # finalized region: ts strictly below the final watermark
    # (max ts 00:29 - 1s grace => both spikes are final)
    want = {(r.event_id, r.n_hist, r.z) for r in batch.collect()
            if r.ts < base + dt.timedelta(minutes=28, seconds=59)}
    assert want  # both spikes present
    assert got == want, (got, want)


def test_upsert_gc_is_reachability_based(spark, tmp_path):
    """VACUUM for the versioned table: GC must never remove a version
    directory whose bucket data a retained manifest still references
    (carried buckets), and must remove fully superseded versions —
    including the physical erasure of deleted keys' history once the
    retention horizon passes."""
    import datetime as dt
    import os

    from ts_data_pipeline_spark.streaming import upsert_sink

    table_dir = str(tmp_path / "table")
    schema = "key string, ts timestamp, val double"
    base = dt.datetime(2024, 1, 1)
    big = spark.createDataFrame(
        [(f"k{i}", base, float(i)) for i in range(64)], schema
    )
    upsert_sink.upsert_batch(
        spark, table_dir, big, 0, key_col="key", ts_col="ts", n_buckets=8
    )
    b1 = spark.createDataFrame([("k3", base + dt.timedelta(1), 99.0)], schema)
    upsert_sink.upsert_batch(spark, table_dir, b1, 1, key_col="key", ts_col="ts")

    # b1's manifest carries 7 buckets out of b0 -> b0 must survive GC
    removed = upsert_sink.gc_versions(table_dir, keep_last=1)
    assert removed == []
    assert os.path.isdir(os.path.join(table_dir, "b0"))

    # rewrite every key -> b2 references nothing in b0/b1
    big2 = spark.createDataFrame(
        [(f"k{i}", base + dt.timedelta(2), float(i) + 0.5) for i in range(64)],
        schema,
    )
    upsert_sink.upsert_batch(spark, table_dir, big2, 2, key_col="key", ts_col="ts")
    removed = upsert_sink.gc_versions(table_dir, keep_last=1)
    assert set(removed) == {"b0", "b1"}
    want = {(f"k{i}", float(i) + 0.5) for i in range(64)}
    got = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    assert got == want


def test_streaming_funnel_drops_late_beyond_horizon(spark, tmp_path):
    """T2 for the CEP funnel: a from-event arriving after its own
    decision horizon closed (watermark already past from.ts + within)
    is dropped, never emitted — the same late-beyond-eviction
    guarantee as the windowed aggregates; and a late to-event whose
    horizon passed cannot resurrect a decided from-event."""
    import datetime as dt

    from ts_data_pipeline_spark.streaming import cep

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
    ])
    base = dt.datetime(2024, 1, 1, 10, 0)
    m = lambda k: base + dt.timedelta(minutes=k)
    chunks = [
        # u1: view@0; watermark pusher on another key
        [(0, 1, m(0), "view"), (1, 9, m(1), "click")],
        # push watermark past view@0's horizon (0+5=5): decided NOT
        # converted in this batch
        [(2, 9, m(20), "click")],
        # LATE: view@2 (horizon 7 << wm 19:59) and purchase@3 — both
        # beyond their horizons; neither may emit or flip a verdict
        [(3, 1, m(2), "view"), (4, 1, m(3), "purchase"),
         (5, 9, m(40), "click")],
    ]
    data_dir = str(tmp_path / "data")
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    stream = windowed.parquet_stream(spark, data_dir, schema, max_files=1)
    out = cep.streaming_funnel(stream, "view", "purchase", 5)
    windowed.run_available_now(out, "t_cep_late", str(tmp_path / "ckpt"))
    got = {r.event_id: r.converted for r in spark.table("t_cep_late").collect()}
    # only the on-time view decided; the late view never appears
    assert got == {0: False}, got


def test_upsert_bucket_routing_is_pinned(spark):
    """Golden pin for the sink's key->bucket routing
    (pmod(xxhash64(key), n)). Every writer and every restart must
    agree on which bucket a key lives in — if these values ever
    change (Spark hash change, seed change), existing tables would
    silently scatter keys across buckets and merges would duplicate
    them. A failure here means: migrate or rebucket, never ship."""
    from ts_data_pipeline_spark.streaming.upsert_sink import _bucket_expr

    df = spark.createDataFrame(
        [(k,) for k in ["a", "b", "k3", "user-42", ""]], "key string"
    )
    got = {
        r.key: r.b
        for r in df.select("key", _bucket_expr("key", 16).alias("b")).collect()
    }
    assert got == {"a": 12, "b": 3, "k3": 11, "user-42": 9, "": 4}


def test_upsert_gc_tombstones_preserve_idempotence(spark, tmp_path):
    """GC records every removed version in the root _TOMBSTONES.json
    registry before deleting its directory: _committed(b<id>) must
    stay true forever, or a crash-recovery re-delivery of a GC'd
    batch would re-merge against TODAY's state with a fresh seq and
    punch through the forward-only pointer guard. After GC: dirs
    gone, registry entry there, re-delivery is a no-op. (A registry
    instead of per-version tombstone dirs keeps table metadata
    bounded over millions of micro-batches.)"""
    import datetime as dt
    import os

    from ts_data_pipeline_spark.streaming import upsert_sink

    table_dir = str(tmp_path / "table")
    schema = "key string, ts timestamp, val double"
    base = dt.datetime(2024, 1, 1)
    b0 = spark.createDataFrame(
        [(f"k{i}", base, float(i)) for i in range(8)], schema
    )
    upsert_sink.upsert_batch(
        spark, table_dir, b0, 0, key_col="key", ts_col="ts", n_buckets=4
    )
    b1 = spark.createDataFrame([("k0", base + dt.timedelta(1), 99.0)], schema)
    upsert_sink.upsert_batch(spark, table_dir, b1, 1, key_col="key", ts_col="ts")
    # b2 rewrites every key -> b0/b1 fully superseded
    b2 = spark.createDataFrame(
        [(f"k{i}", base + dt.timedelta(2), float(i) + 0.5) for i in range(8)],
        schema,
    )
    upsert_sink.upsert_batch(spark, table_dir, b2, 2, key_col="key", ts_col="ts")
    removed = upsert_sink.gc_versions(table_dir, keep_last=1)
    assert set(removed) == {"b0", "b1"}
    for d in removed:
        assert not os.path.exists(os.path.join(table_dir, d))  # dir gone
    stones = upsert_sink._read_tombstones(table_dir)
    assert set(stones) == {"b0", "b1"}  # ...but forever committed
    assert stones["b1"] == stones["b0"] + 1

    want = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    # crash-recovery re-delivery of the GC'd batch 1: the tombstone
    # says "already applied", so no re-merge, no pointer movement
    upsert_sink.upsert_batch(spark, table_dir, b1, 1, key_col="key", ts_col="ts")
    got = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    assert got == want
    # and a half-written (manifest-less) dir is NOT touched by GC —
    # it could be an in-flight commit
    os.makedirs(os.path.join(table_dir, "b9"))
    assert upsert_sink.gc_versions(table_dir) == []
    assert os.path.isdir(os.path.join(table_dir, "b9"))


def test_streaming_zscore_null_values_match_batch(spark, tmp_path):
    """A NULL value must occupy a slot in the trailing window but be
    excluded from the baseline stats (Spark aggregates skip nulls) —
    and must never become NaN, which would poison mu/sd and silently
    suppress every alert for the next `lookback` rows."""
    import datetime as dt

    from ts_data_pipeline_spark.operators import quality as qops
    from ts_data_pipeline_spark.streaming import cep

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        v = None if i == 10 else (100.0 if i == 20 else 10.0 + (i % 3))
        rows.append((i, 1, base + dt.timedelta(minutes=i), v))
    chunks = [rows[:15], rows[15:]]
    data_dir = str(tmp_path / "data")
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    stream = windowed.parquet_stream(spark, data_dir, schema, max_files=1)
    out = cep.streaming_zscore_alerts(
        stream, lookback=10, z_threshold=3.0, min_history=5
    )
    windowed.run_available_now(out, "t_cep_znull", str(tmp_path / "ckpt"))
    got = {(r.event_id, r.n_hist, r.z)
           for r in spark.table("t_cep_znull").collect()}

    batch = qops.rolling_zscore_anomalies(
        spark.createDataFrame(rows, schema),
        lookback=10, z_threshold=3.0, min_history=5,
    )
    want = {(r.event_id, r.n_hist, r.z) for r in batch.collect()
            if r.ts < base + dt.timedelta(minutes=28, seconds=59)}
    assert want  # the spike at i=20 IS flagged despite the null at 10
    assert got == want, (got, want)


def test_upsert_roll_forward_completes_orphaned_commits(spark, tmp_path):
    """The one non-atomic gap in the commit protocol: a crash AFTER a
    version's manifest commit but BEFORE the pointer move. Seqs are
    minted from the pointed version, so without repair the next
    writer would mint the orphan's seq again and bury it — for a
    compliance delete, serving erased keys with no error. Every
    writer entry point must roll the pointer forward to the highest
    committed seq first."""
    import datetime as dt
    import json
    import os

    from pyspark.sql import functions as SF

    from ts_data_pipeline_spark.streaming import upsert_sink

    table_dir = str(tmp_path / "table")
    schema = "key string, ts timestamp, val double"
    base = dt.datetime(2024, 1, 1)
    b0 = spark.createDataFrame(
        [("a", base, 1.0), ("b", base, 2.0)], schema
    )
    upsert_sink.upsert_batch(spark, table_dir, b0, 0, key_col="key", ts_col="ts")

    # simulate delete_keys crashing between commit and repoint:
    # commit d1 (purging 'a') directly, do NOT move _CURRENT
    cur = upsert_sink.read_table(spark, table_dir)
    m0 = json.load(open(os.path.join(table_dir, "b0", "_MANIFEST.json")))
    upsert_sink._commit_version(
        table_dir, "d1", cur.filter(SF.col("key") != "a"), {},
        key_col="key", n_buckets=int(m0["n_buckets"]), seq=m0["seq"] + 1,
    )
    with open(os.path.join(table_dir, "_CURRENT")) as f:
        assert f.read().strip() == "b0"  # the orphaned state

    # next stream batch must first complete the delete, then merge
    # FROM the post-delete state — 'a' stays erased
    b1 = spark.createDataFrame([("c", base + dt.timedelta(1), 3.0)], schema)
    upsert_sink.upsert_batch(spark, table_dir, b1, 1, key_col="key", ts_col="ts")
    got = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    assert got == {("b", 2.0), ("c", 3.0)}
    m1 = json.load(open(os.path.join(table_dir, "b1", "_MANIFEST.json")))
    assert m1["seq"] == m0["seq"] + 2  # minted past the orphan, not onto it


def test_upsert_redelivery_of_committed_batch_still_rolls_forward(
    spark, tmp_path
):
    """Roll-forward must run UNCONDITIONALLY at writer entry, not only
    on the merge path: if a delete crashed between commit and
    repoint, the stream's restart re-delivery of its last (already
    committed) batch may be the only writer invocation before the
    stream idles — it must complete the interrupted delete, or
    erased keys are served indefinitely."""
    import datetime as dt
    import json
    import os

    from pyspark.sql import functions as SF

    from ts_data_pipeline_spark.streaming import upsert_sink

    table_dir = str(tmp_path / "table")
    schema = "key string, ts timestamp, val double"
    base = dt.datetime(2024, 1, 1)
    b0 = spark.createDataFrame([("a", base, 1.0), ("b", base, 2.0)], schema)
    upsert_sink.upsert_batch(spark, table_dir, b0, 0, key_col="key", ts_col="ts")

    # delete crashes after committing d1, before the repoint
    cur = upsert_sink.read_table(spark, table_dir)
    m0 = json.load(open(os.path.join(table_dir, "b0", "_MANIFEST.json")))
    upsert_sink._commit_version(
        table_dir, "d1", cur.filter(SF.col("key") != "a"), {},
        key_col="key", n_buckets=int(m0["n_buckets"]), seq=m0["seq"] + 1,
    )
    # restart re-delivers the ALREADY COMMITTED batch 0 (checkpoint
    # lag) — no merge happens, but the repair must
    upsert_sink.upsert_batch(spark, table_dir, b0, 0, key_col="key", ts_col="ts")
    with open(os.path.join(table_dir, "_CURRENT")) as f:
        assert f.read().strip() == "d1"
    got = {r.key for r in upsert_sink.read_table(spark, table_dir).collect()}
    assert got == {"b"}  # the delete is live


def test_upsert_read_table_rolls_forward_without_writing(spark, tmp_path):
    """Reader-side roll-forward (VERDICT r12 ask #1): on S3A the
    pointer swap is copy+delete, so a reader racing the swap can see
    ``_CURRENT`` missing (or pointing at a just-GC'd dir) on a fully
    committed table. ``read_table`` must fall back to the max-seq
    committed-manifest walk — and, unlike the writer's repair, must
    NOT write the pointer back (readers may be read-only and must not
    race the writer's in-flight swap)."""
    import datetime as dt
    import os

    from ts_data_pipeline_spark.operators import fsio
    from ts_data_pipeline_spark.streaming import upsert_sink

    table_dir = str(tmp_path / "table")
    schema = "key string, ts timestamp, val double"
    base = dt.datetime(2024, 1, 1)
    b0 = spark.createDataFrame([("a", base, 1.0), ("b", base, 2.0)], schema)
    upsert_sink.upsert_batch(spark, table_dir, b0, 0, key_col="key", ts_col="ts")
    b1 = spark.createDataFrame([("a", base + dt.timedelta(1), 9.0)], schema)
    upsert_sink.upsert_batch(spark, table_dir, b1, 1, key_col="key", ts_col="ts")

    # the S3A race window: pointer gone mid-swap (simulated through
    # the same Hadoop FS API the sink writes with — a plain os.remove
    # would orphan the local-FS checksum sidecar, a different failure)
    ptr = os.path.join(table_dir, "_CURRENT")
    fsio.delete(spark, ptr)
    got = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    assert got == {("a", 9.0), ("b", 2.0)}  # the LATEST committed version
    assert not fsio.exists(spark, ptr)  # read-only: the reader never writes

    # stale pointer (names a dir GC'd between pointer read and
    # manifest read): same fallback
    fsio.write_text(spark, ptr, "bghost")
    got = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    assert got == {("a", 9.0), ("b", 2.0)}
    assert fsio.read_text(spark, ptr) == "bghost"  # still untouched

    # a genuinely empty table root stays None, not an exception
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    assert upsert_sink.read_table(spark, empty) is None
    # ... and so does a table whose DIRECTORY does not exist yet (a
    # reader polling ahead of the writer's first commit) — the
    # fallback scan must not turn "no data yet" into FileNotFoundError
    assert upsert_sink.read_table(spark, str(tmp_path / "nonexistent")) is None

    # the sibling maintenance entry points on a missing dir: the
    # designed error (delete) / empty result (GC), never a raw
    # listing failure
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no current version"):
        upsert_sink.delete_keys(
            spark, str(tmp_path / "nonexistent"),
            spark.createDataFrame([("a",)], "key string"),
            key_col="key", version=1,
        )
    assert upsert_sink.gc_versions(str(tmp_path / "nonexistent")) == []


def test_streaming_cusum_alerts_match_batch(spark, tmp_path):
    """Streaming CUSUM drift alerting: emitted alarm rows must equal
    the batch cusum_changepoints alarm rows (same ids, same 4-dp
    statistics) over the finalized region — the O(1)-state recursion
    and the batch running-frame closed form agree at the rounding
    convention."""
    import datetime as dt

    from ts_data_pipeline_spark.operators import tsstats
    from ts_data_pipeline_spark.streaming import cep

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(40):
        # key A: a sustained +30 drift burst at rows 10..19, recovery after
        v = 80.0 if 10 <= i < 20 else 50.0 + (i % 5)
        rows.append((i, "A", base + dt.timedelta(minutes=i), v))
        # key B: a negative drift tail from row 25
        vb = 10.0 if i >= 25 else 50.0 - (i % 3)
        rows.append((100 + i, "B", base + dt.timedelta(minutes=i), vb))
    # a null value mid-burst: occupies a position, stat carries
    rows = [r if r[0] != 14 else (14, "A", r[2], None) for r in rows]
    chunks = [rows[:30], rows[30:55], rows[55:]]
    data_dir = str(tmp_path / "data")
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    stream = windowed.parquet_stream(spark, data_dir, schema, max_files=1)
    out = cep.streaming_cusum_alerts(
        stream, target=50.0, slack=5.0, threshold=100.0
    )
    windowed.run_available_now(out, "t_cep_cusum", str(tmp_path / "ckpt"))
    got = {
        (r.event_id, r.s_pos, r.s_neg, r.alarm_pos, r.alarm_neg)
        for r in spark.table("t_cep_cusum").collect()
    }

    batch = tsstats.cusum_changepoints(
        spark.createDataFrame(rows, schema),
        target=50.0, slack=5.0, threshold=100.0,
    )
    final_wm = base + dt.timedelta(minutes=38, seconds=59)
    want = {
        (r.event_id, r.s_pos, r.s_neg, r.alarm_pos, r.alarm_neg)
        for r in batch.filter(
            (F.col("alarm_pos") | F.col("alarm_neg"))
            & (F.col("ts") < F.lit(final_wm))
        ).collect()
    }
    assert want  # both drift regimes produce alarms
    assert any(a for *_, a, _ in [(w[0], w[1], w[2], w[3], w[4]) for w in want])
    assert got == want, (sorted(got), sorted(want))
    # the null-value row carried the statistic (present iff in alarm)
    batch_ids = {w[0] for w in want}
    assert (14 in batch_ids) == (14 in {g[0] for g in got})


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """streaming_dedup: redelivered keys inside the grace horizon are
    suppressed (at-least-once -> effectively-once); state is evicted
    by the watermark, so a key re-sent AFTER the horizon passes again
    — the documented bounded-state trade, pinned here."""
    data_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")

    def drain(_name):
        """availableNow drain into the (recoverable) file sink;
        returns cumulative per-key emission counts."""
        stream = windowed.parquet_stream(spark, data_dir, TRADE_SCHEMA)
        dd = windowed.streaming_dedup(stream, ["osym"], grace="10 minutes")
        q = (
            dd.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        counts = {}
        for r in spark.read.parquet(out_dir).collect():
            counts[r.osym] = counts.get(r.osym, 0) + 1
        return counts

    # run 1: ids 1,2 plus a redelivery of id 1 at the same event time
    # — suppressed (within the horizon), so one row per key.
    _write_chunk(
        spark,
        [_trade("1", "2024-01-01T10:00:00"), _trade("2", "2024-01-01T10:00:01")],
        data_dir,
    )
    _write_chunk(
        spark,
        [_trade("1", "2024-01-01T10:00:00"), _trade("3", "2024-01-01T10:00:02")],
        data_dir,
    )
    got1 = drain("r1")
    assert got1 == {"1": 1, "2": 1, "3": 1}

    # run 2 (same checkpoint): watermark advances far past id 1's
    # eviction horizon (10:00 + 10 min).
    _write_chunk(spark, [_trade("4", "2024-01-01T12:00:00")], data_dir)
    got2 = drain("r2")
    assert got2 == {"1": 1, "2": 1, "3": 1, "4": 1}

    # run 3: id 1 re-sent AFTER eviction — passes again. Bounded
    # state means effectively-once only within the grace horizon;
    # that trade is exactly what this pins.
    _write_chunk(spark, [_trade("1", "2024-01-01T12:00:01")], data_dir)
    got3 = drain("r3")
    assert got3 == {"1": 2, "2": 1, "3": 1, "4": 1}


def test_streaming_multistage_funnel_matches_batch(spark, tmp_path):
    """Streaming multi-stage CEP funnel vs the batch funnel_path:
    identical completed verdicts for every start whose horizon the
    watermark passed, and identical per-stage witness timestamps
    wherever the batch witness lies inside the horizon (beyond it no
    finite-state stream can finalize — documented contract)."""
    import datetime as dt

    from ts_data_pipeline_spark.operators import tsstats
    from ts_data_pipeline_spark.streaming import cep

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
    ])
    base = dt.datetime(2024, 1, 1, 10, 0)
    m = lambda k: base + dt.timedelta(minutes=k)
    stages = ["view", "click", "purchase"]
    chunks = [
        # u1 completes view@0 -> click@2 -> purchase@4 (within 6)
        [(0, 1, m(0), "view"), (1, 1, m(2), "click"),
         (2, 2, m(1), "view")],
        [(3, 1, m(4), "purchase"),
         # u2 clicks@3 but purchases too late (@9 > 1+6)
         (4, 2, m(3), "click"), (5, 2, m(9), "purchase")],
        # u3 view with no click at all; watermark pushers
        [(6, 3, m(20), "view"), (7, 1, m(30), "view")],
        [(8, 9, m(60), "view")],
    ]
    data_dir = str(tmp_path / "data")
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    stream = windowed.parquet_stream(spark, data_dir, schema, max_files=1)
    out = cep.streaming_funnel_path(stream, stages, 6)
    windowed.run_available_now(out, "t_cep_path", str(tmp_path / "ckpt"))
    got = {
        r.event_id: (r.completed, r.ts_1_click, r.ts_2_purchase)
        for r in spark.table("t_cep_path").collect()
    }

    allrows = spark.createDataFrame([r for c in chunks for r in c], schema)
    batch = {
        r.event_id: (r.completed, r.ts_1_click, r.ts_2_purchase, r.ts)
        for r in tsstats.funnel_path(allrows, stages, 6).collect()
    }
    # finalized starts: horizon (ts+6min) < final watermark (60min-1s)
    assert set(got) == {0, 2, 6, 7}
    for eid, (comp, t1, t2) in got.items():
        bcomp, bt1, bt2, bts = batch[eid]
        assert comp == bcomp, (eid, comp, bcomp)
        horizon = bts + dt.timedelta(minutes=6)
        for mine, theirs in ((t1, bt1), (t2, bt2)):
            if theirs is not None and theirs <= horizon:
                assert mine == theirs, (eid, mine, theirs)
            else:
                assert mine is None, (eid, mine, theirs)
    assert got[0] == (True, m(2), m(4))
    assert got[2][0] is False and got[2][1] == m(3)  # click in horizon
    assert got[6] == (False, None, None)


def test_streaming_funnel_hot_key_dense_horizon(spark, tmp_path):
    """Hot-key stress for the bisect witness match (VERDICT r6 #4): a
    single key with MANY open from-events and many in-horizon
    witnesses in one micro-batch — every verdict and every in-horizon
    converted_at must still byte-match the batch funnel. Interleaved
    froms/tos exercise the strictly-after boundary (same-ts pairs,
    id tie-break) and the first-qualifying-witness selection at every
    bisect position."""
    import datetime as dt

    from ts_data_pipeline_spark.operators import tsstats
    from ts_data_pipeline_spark.streaming import cep

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
    ])
    base = dt.datetime(2024, 1, 1, 10, 0)
    s = lambda k: base + dt.timedelta(seconds=k)
    # one hot key: 60 froms + 60 tos inside a shared 5-min horizon,
    # including same-timestamp from/to pairs (id decides the order)
    dense = []
    eid = 0
    for i in range(60):
        dense.append((eid, 1, s(4 * i), "view")); eid += 1
        # a witness at the SAME ts as its from every third pair
        # (ties: id decides), slightly after otherwise
        dense.append((eid, 1, s(4 * i + (0 if i % 3 == 0 else 2)),
                      "purchase")); eid += 1
    chunks = [
        dense,
        # watermark pusher on another key: closes every horizon
        [(9999, 7, s(4 * 60 + 5 * 60 + 120), "click")],
    ]
    data_dir = str(tmp_path / "data")
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    stream = windowed.parquet_stream(spark, data_dir, schema, max_files=1)
    out = cep.streaming_funnel(stream, "view", "purchase", 5)
    windowed.run_available_now(out, "t_cep_hot", str(tmp_path / "ckpt"))
    got = {
        r.event_id: (r.converted, r.converted_at)
        for r in spark.table("t_cep_hot").collect()
    }

    allrows = spark.createDataFrame(
        [r for c in chunks for r in c], schema
    )
    batch = tsstats.funnel_conversions(allrows, "view", "purchase", 5)
    want = {
        r.event_id: (r.converted, r.converted_at if r.converted else None)
        for r in batch.collect()
    }
    assert len(got) == 60  # every from decided
    for eid in got:
        assert got[eid] == want[eid], (eid, got[eid], want[eid])


def test_streaming_heartbeat_alerts_silences_once(spark, tmp_path):
    """Dead-man's switch (cep.streaming_heartbeat_alerts): the
    TIMEOUT path alerts an ongoing silence exactly once (no re-alert
    on later empty batches), a gap closed by a later sample alerts
    for the silence START exactly once, short gaps never alert, and
    a new sample after an alerted silence re-arms (a second long
    silence alerts again)."""
    import datetime as dt

    from ts_data_pipeline_spark.streaming import cep

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    h = dt.datetime(2024, 1, 1, 10, 0)
    m = lambda k: h + dt.timedelta(minutes=k)
    chunks = [
        # key A beats at 0 and 5; key W is the watermark driver
        [(0, "A", m(0)), (1, "A", m(5)), (2, "W", m(0))],
        # watermark pushes past A's 10-min horizon (silence from 5):
        # TIMEOUT alert for last_seen=5; W itself keeps beating
        [(3, "W", m(30))],
        # nothing for A; watermark advances again — NO re-alert
        [(4, "W", m(60))],
        # A returns at 70 (silence 5->70 was already alerted), beats
        # at 72, then a CLOSED 15-min gap 72->87 alerts for 72
        [(5, "A", m(70)), (6, "A", m(72)), (7, "A", m(87)),
         (8, "W", m(88))],
        # final watermark driver: A's trailing silence from 87 (>10)
        # alerts once more; W's own trailing silence also alerts
        [(9, "W", m(200))],
    ]
    data_dir = str(tmp_path / "data")
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    stream = windowed.parquet_stream(spark, data_dir, schema, max_files=1)
    out = cep.streaming_heartbeat_alerts(stream, gap_minutes=10)
    windowed.run_available_now(out, "t_cep_hb", str(tmp_path / "ckpt"))
    got = sorted(
        (r.key, r.last_seen)
        for r in spark.table("t_cep_hb").collect()
    )
    want = sorted([
        ("A", m(5)),    # timeout-fired ongoing silence, once
        ("A", m(72)),   # closed 15-min gap start
        ("A", m(87)),   # trailing silence after re-arm
        # the watermark driver's own beats are 30-60 min apart — all
        # legitimate gaps at the 10-min threshold
        ("W", m(0)), ("W", m(30)), ("W", m(60)), ("W", m(88)),
    ])
    assert got == want, (got, want)


def test_cep_state_rows_bounded_by_live_keys(spark, tmp_path):
    """VERDICT r7 ask #8 — state-size observability: across a
    multi-batch replay, every micro-batch's stateOperatorProgress
    reports numRowsTotal bounded by the LIVE KEY count for both
    streaming_funnel_path (keyed by user_id) and
    streaming_heartbeat_alerts (keyed by event_type). The
    applyInPandasWithState store holds at most one row per grouping
    key, and timeout purges must not leak state past the horizon —
    this pins the 'bounded state' claim as a measured number, not a
    docstring."""
    from pyspark.sql.window import Window

    from ts_data_pipeline_spark.queries.streaming import (
        CEP_PATH_STAGES,
        CEP_PATH_WITHIN,
        HEARTBEAT_GAP_MINUTES,
    )
    from ts_data_pipeline_spark.streaming import cep, windowed

    ev = io.load(spark, SF_DIR, "events")

    cases = {
        "funnel_path": (
            ev.select("event_id", "user_id", "ts", "event_type"),
            lambda s: cep.streaming_funnel_path(
                s, CEP_PATH_STAGES, CEP_PATH_WITHIN
            ),
            ev.select("user_id").distinct().count(),
        ),
        "heartbeat": (
            ev.select("event_id", "event_type", "ts"),
            lambda s: cep.streaming_heartbeat_alerts(
                s, HEARTBEAT_GAP_MINUTES
            ),
            ev.select("event_type").distinct().count(),
        ),
    }
    for name, (df, build, n_keys) in cases.items():
        data_dir = str(tmp_path / name / "data")
        chunks = df.withColumn(
            "chunk", F.ntile(4).over(Window.orderBy("ts"))
        ).localCheckpoint(eager=True)
        for i in range(1, 5):
            chunks.filter(F.col("chunk") == i).drop("chunk").coalesce(
                1
            ).write.mode("append").parquet(data_dir)
        stream = windowed.parquet_stream(spark, data_dir, df.schema, max_files=1)
        q = windowed.run_available_now(
            build(stream), f"t_state_{name}", str(tmp_path / name / "ckpt")
        )
        progresses = [p for p in q.recentProgress if p["stateOperators"]]
        q.stop()
        assert len(progresses) >= 4, (name, len(progresses))
        totals = [
            op["numRowsTotal"]
            for p in progresses
            for op in p["stateOperators"]
        ]
        assert max(totals) > 0, name                  # state actually exists
        assert max(totals) <= n_keys, (name, max(totals), n_keys)


def test_interpolate_finals_composes_to_batch_evaluate(spark):
    """The streaming interpolation split (A8 over T3): running the
    spec with interpolation stripped and applying
    ``interpolate_finals`` over the landed finals must be
    value-identical to batch ``evaluate`` with the interpolating
    spec, for a [from, to) range the watermark fully closed. Pinned
    here batch-to-batch (the stream side's plan IS the batch plan
    under a watermark); the suite member pins the full replay
    lifecycle against DuckDB."""
    from dataclasses import replace

    from ts_data_pipeline_spark.plans.queryspec import (
        GroupByTime, NumericAggregation, QuerySpec, evaluate,
        interpolate_finals,
    )
    from ts_data_pipeline_spark.queries.telemetry import (
        events_as_parameter_values,
    )

    pv = events_as_parameter_values(io.load(spark, SF_DIR, "events"))
    base = QuerySpec(
        numeric_aggregations=[NumericAggregation("purchase", "Mean")],
        from_ts="2024-01-02 00:00:00",
        to_ts="2024-01-12 00:00:00",
        stream_ids=["2"],
        group_by_time=GroupByTime("6 hours"),
        group_by_tags=["k"],
    )
    finals = evaluate(pv, base)
    key = ["bucket", "tag_k"]
    for mode in ("Previous", "Linear"):
        full = replace(base, group_by_time=GroupByTime("6 hours", mode))
        composed = interpolate_finals(finals, full)
        batch = evaluate(pv, full)
        a = sorted(
            composed.collect(), key=lambda r: (str(r["bucket"]), str(r["tag_k"]))
        )
        b = sorted(
            batch.collect(), key=lambda r: (str(r["bucket"]), str(r["tag_k"]))
        )
        assert len(a) == len(b) > 0, mode
        assert a == b, mode
        # The fill is non-vacuous for Previous (one prior value per
        # tag suffices). Linear needs a non-null on BOTH sides of an
        # interior gap in the SAME tag group — at sf0.001 the per-tag
        # series are too sparse for that (most tags carry one value),
        # so Linear is pinned by the identity above here and by the
        # sf0.01 suite member's hash compare, where interior gaps
        # exist.
        if mode == "Previous":
            filled = composed.join(finals, key, "left_anti").filter(
                F.col("purchase_mean").isNotNull()
            )
            assert filled.count() > 0, mode


def test_interval_join_state_bounded_by_range_condition(spark, tmp_path):
    """The stream-stream interval join's 100 TB claim, measured: the
    event-time range condition is what lets Spark evict both sides'
    join state at the watermark, so across an 8-batch time-ordered
    replay of a month of events the join state stays a small
    fraction of the input (each batch holds ~its own rows plus the
    12-hour survivor tail) instead of accumulating every row ever
    seen. Pinned as numbers off stateOperatorProgress, the same
    treatment as the CEP state pin."""
    from pyspark.sql.window import Window

    from ts_data_pipeline_spark.streaming import windowed

    ev = io.load(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    n_total = ev.count()
    data_dir = str(tmp_path / "data")
    chunks = ev.withColumn(
        "chunk", F.ntile(8).over(Window.orderBy("ts"))
    ).localCheckpoint(eager=True)
    for i in range(1, 9):
        chunks.filter(F.col("chunk") == i).drop("chunk").coalesce(
            1
        ).write.mode("append").parquet(data_dir)

    stream = windowed.parquet_stream(spark, data_dir, ev.schema, max_files=1)
    views = stream.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("view_ts"),
    )
    buys = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"), "user_id", "ts"
    )
    j = windowed.stream_stream_time_join(
        buys, views, key="user_id", left_ts="ts",
        right_ts="view_ts", lookback="12 hours",
    )
    q = windowed.run_available_now(
        j, "t_ssjoin_state", str(tmp_path / "ckpt")
    )
    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    q.stop()
    assert len(progresses) >= 8
    totals = [
        op["numRowsTotal"]
        for p in progresses
        for op in p["stateOperators"]
    ]
    assert max(totals) > 0
    # Eviction lags one micro-batch (the batch runs under the PRIOR
    # watermark), so the ceiling is ~2 chunks of survivors + the
    # 12-hour tail — far below "every row ever seen". 8 chunks of a
    # ~30-day corpus put 2 chunks at 25%; 50% leaves margin for
    # chunk-boundary skew while still proving eviction.
    assert max(totals) <= 0.5 * n_total, (max(totals), n_total)
    # and the final batch's state is the steady-state tail, smaller
    # than one chunk's worth of rows
    final_total = sum(
        op["numRowsTotal"] for op in progresses[-1]["stateOperators"]
    )
    assert final_total <= 0.35 * n_total, (final_total, n_total)


def test_upsert_sink_full_lifecycle_over_file_uri(spark, tmp_path):
    """The r12 portability pin (VERDICT r11 ask #1): the ENTIRE
    upsert commit protocol — seed, merge, crash-half-write redo,
    compliance delete, forward-only re-delivery, GC with tombstones
    — runs against an explicit ``file://`` URI, i.e. entirely
    through the Hadoop FileSystem ops (operators/fsio.HadoopOps),
    where the old os.*/shutil/tempfile implementation would choke on
    the scheme. Same scenario shape as the POSIX tests above, so any
    semantic divergence between the two ops backends surfaces as a
    value mismatch."""
    import datetime as dt

    from ts_data_pipeline_spark.streaming import upsert_sink

    table_dir = "file://" + str(tmp_path / "uri_table")
    schema = "key string, ts timestamp, val double"
    base = dt.datetime(2024, 1, 1)

    # seed: 16 keys over 4 buckets
    b0 = spark.createDataFrame(
        [(f"k{i}", base, float(i)) for i in range(16)], schema
    )
    upsert_sink.upsert_batch(
        spark, table_dir, b0, 0, key_col="key", ts_col="ts", n_buckets=4
    )

    # crashed half-write of batch 1 (dir without manifest): redo
    from ts_data_pipeline_spark.operators import fsio

    half = fsio.join(table_dir, "b1")
    fsio.mkdirs(spark, half)
    fsio.write_text(spark, fsio.join(half, "part-garbage.parquet"), "torn")
    b1 = spark.createDataFrame([("k3", base + dt.timedelta(1), 99.0)], schema)
    upsert_sink.upsert_batch(spark, table_dir, b1, 1, key_col="key", ts_col="ts")
    got = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    assert got == {(f"k{i}", float(i)) for i in range(16) if i != 3} | {
        ("k3", 99.0)
    }
    # delta contract survives the URI path: ONE bucket dir under b1
    written = [
        e["name"]
        for e in fsio.listdir(spark, fsio.join(table_dir, "b1"))
        if e["name"].startswith("tdp_bucket=")
    ]
    assert len(written) == 1, written

    # compliance delete + forward-only pointer under re-delivery
    upsert_sink.delete_keys(
        spark, table_dir, spark.createDataFrame([("k0",)], "key string"),
        key_col="key", version=1,
    )
    upsert_sink.upsert_batch(spark, table_dir, b1, 1, key_col="key", ts_col="ts")
    keys = {r.key for r in upsert_sink.read_table(spark, table_dir).collect()}
    assert "k0" not in keys and "k3" in keys

    # full rewrite then GC: superseded versions go, tombstones stay
    b2 = spark.createDataFrame(
        [(f"k{i}", base + dt.timedelta(2), float(i) + 0.5) for i in range(16)],
        schema,
    )
    upsert_sink.upsert_batch(spark, table_dir, b2, 2, key_col="key", ts_col="ts")
    removed = upsert_sink.gc_versions(table_dir, keep_last=1, spark=spark)
    assert set(removed) == {"b0", "b1", "d1"}
    for d in removed:
        assert not fsio.exists(spark, fsio.join(table_dir, d))
    stones = upsert_sink._read_tombstones(table_dir, fsio.HadoopOps(spark))
    assert set(stones) == {"b0", "b1", "d1"}
    # re-delivery of the GC'd batch 1 is a no-op (tombstone says done)
    upsert_sink.upsert_batch(spark, table_dir, b1, 1, key_col="key", ts_col="ts")
    got = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    assert got == {(f"k{i}", float(i) + 0.5) for i in range(16)}

    # reader-race stage (r13): pointer vanishes mid-swap on the URI
    # path too — read_table rolls forward read-only via HadoopOps
    ptr = fsio.join(table_dir, "_CURRENT")
    fsio.delete(spark, ptr)
    got = {
        (r.key, r.val)
        for r in upsert_sink.read_table(spark, table_dir).collect()
    }
    assert got == {(f"k{i}", float(i) + 0.5) for i in range(16)}
    assert not fsio.exists(spark, ptr)  # the reader never writes


def test_state_store_partitions_follow_executor_slots(spark, tmp_path, monkeypatch):
    """get_spark sizes shuffle partitions to the executor slots
    (sparkContext.defaultParallelism) unless
    SPARK_GRAFT_SHUFFLE_PARTITIONS overrides it, and a stateful stream
    started on the session runs that many state-store partitions."""
    from ts_data_pipeline_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    slots = spark.sparkContext.defaultParallelism
    prev = spark.conf.get(key)
    try:
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
        assert get_spark() is spark
        assert spark.conf.get(key) == str(slots)

        data_dir = str(tmp_path / "data")
        _write_chunk(spark, [_trade("A", "2024-01-01 10:00:10")], data_dir)
        stream = windowed.parquet_stream(spark, data_dir, TRADE_SCHEMA, max_files=1)
        agg = windowed.streaming_option_window_agg(stream)
        q = windowed.run_available_now(agg, "t_state_slots", str(tmp_path / "ckpt"))
        state_op = q.recentProgress[-1]["stateOperators"][0]
        assert state_op["numShufflePartitions"] == slots

        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "3")
        get_spark()
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, prev)


def test_replay_gate_sizes_state_to_slots_under_caller_width(spark, tmp_path):
    """A replay gate under a session carrying its own width (a caller's
    vanilla session keeps Spark's default of 200) runs its state store
    at the executor slots and hands the caller's width back."""
    import time

    from ts_data_pipeline_spark.queries.streaming import _run_replay_gate
    from ts_data_pipeline_spark.streaming.monitor import ProgressMonitor

    key = "spark.sql.shuffle.partitions"
    slots = spark.sparkContext.defaultParallelism
    prev = spark.conf.get(key)
    caller_width = str(slots + 3)
    mon = ProgressMonitor()
    spark.streams.addListener(mon)
    try:
        spark.conf.set(key, caller_width)
        df = spark.createDataFrame(
            [_trade("A", "2024-01-01 10:00:10"), _trade("A", "2024-01-01 10:05:00")],
            TRADE_SCHEMA,
        )
        finals = _run_replay_gate(
            spark, df, "t_gate_slots_", windowed.streaming_option_window_agg, n_chunks=2
        )
        assert spark.conf.get(key) == caller_width
        assert finals.count() == 1  # the 10:00 window closes; 10:05 stays open
        # Listener delivery is async; progress arrives shortly after.
        for _ in range(40):
            if len(mon.state.metrics) >= 2:
                break
            time.sleep(0.25)
        assert mon.state.metrics
        assert all(m.state_partitions == slots for m in mon.state.metrics)
    finally:
        spark.streams.removeListener(mon)
        spark.conf.set(key, prev)


def test_replay_gate_applies_checkpoint_manager_and_unsets_it_after(
    spark, monkeypatch
):
    """get_spark sessions commit checkpoints through the FileSystem
    manager. A replay gate on a session without the engine's rules
    (the key unset, the caller's own width) applies both for its run,
    returns the same rows as under the rules, then unsets the key again
    and hands the caller's width back."""
    from ts_data_pipeline_spark.queries import streaming as qs
    from ts_data_pipeline_spark.session import (
        CHECKPOINT_FILE_MANAGER, get_spark, session_rules,
    )

    key = "spark.sql.streaming.checkpointFileManagerClass"
    width_key = "spark.sql.shuffle.partitions"
    assert get_spark() is spark
    assert spark.conf.get(key) == CHECKPOINT_FILE_MANAGER
    jvm = spark._jvm
    cfm = getattr(
        jvm, "org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager"
    )
    manager = cfm.create(
        jvm.org.apache.hadoop.fs.Path("file:///tmp"),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == CHECKPOINT_FILE_MANAGER

    seen = []
    run = windowed.run_available_now

    def spy(df, name, ckpt):
        seen.append((spark.conf.get(key, None), spark.conf.get(width_key)))
        return run(df, name, ckpt)

    monkeypatch.setattr(qs.windowed, "run_available_now", spy)
    df = spark.createDataFrame(
        [
            _trade("A", "2024-01-01 10:00:10"),
            _trade("B", "2024-01-01 10:00:40", premium=3.0, side="sell"),
            _trade("A", "2024-01-01 10:05:00"),
        ],
        TRADE_SCHEMA,
    )

    def gate():
        finals = qs._run_replay_gate(
            spark, df, "t_gate_ckpt_", windowed.streaming_option_window_agg, n_chunks=2
        )
        return sorted(tuple(r) for r in finals.collect())

    caller_width = str(spark.sparkContext.defaultParallelism + 3)
    try:
        with_rules = gate()
        spark.conf.unset(key)
        spark.conf.set(width_key, caller_width)
        without = gate()
        assert spark.conf.get(key, None) is None
        assert spark.conf.get(width_key) == caller_width
    finally:
        for k, v in session_rules(spark).items():
            spark.conf.set(k, v)
    assert without == with_rules and len(with_rules) == 2
    rules = session_rules(spark)
    assert seen == [(CHECKPOINT_FILE_MANAGER, rules[width_key])] * 2


def test_replay_gate_removes_its_dir_when_the_run_raises(spark):
    """A replay gate whose stream fails re-raises the error and still
    removes its replay dir (chunks and checkpoint) from the temp dir."""
    import glob
    import tempfile
    import uuid

    from ts_data_pipeline_spark.queries import streaming as qs

    prefix = f"t_gate_boom_{uuid.uuid4().hex[:8]}_"
    df = spark.createDataFrame(
        [_trade("A", "2024-01-01 10:00:10"), _trade("B", "2024-01-01 10:05:00")],
        TRADE_SCHEMA,
    )

    def build(stream):
        return stream.select("osym", F.expr("raise_error('boom')").alias("x"))

    with pytest.raises(Exception, match="boom"):
        qs._run_replay_gate(spark, df, prefix, build, n_chunks=2)
    assert glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")) == []


def test_checkpoint_commits_keep_their_checksums(spark, tmp_path):
    """The FileSystem checkpoint manager drops no integrity check: every
    state delta keeps Spark's checkpoint checksum (``N.delta.crc``) and
    Hadoop's sidecar (``.N.delta.crc``), and every offsets and commits
    log entry keeps its ``.N.crc``, with the checksum conf at its
    default."""
    assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"
    data_dir = str(tmp_path / "data")
    ckpt = tmp_path / "ckpt"
    _write_chunk(spark, [_trade("A", "2024-01-01 10:00:10")], data_dir)
    _write_chunk(spark, [_trade("A", "2024-01-01 10:05:00")], data_dir)
    stream = windowed.parquet_stream(spark, data_dir, TRADE_SCHEMA, max_files=1)
    q = (
        windowed.streaming_option_window_agg(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    partitions = [d for d in (ckpt / "state" / "0").iterdir() if d.name.isdigit()]
    assert len(partitions) == int(spark.conf.get("spark.sql.shuffle.partitions"))
    for part in partitions:
        names = {f.name for f in part.iterdir()}
        deltas = sorted(n for n in names if n.endswith(".delta"))
        assert deltas, part
        for n in deltas:
            assert {f"{n}.crc", f".{n}.crc"} <= names, (part, n)
    for log in ("offsets", "commits"):
        names = {f.name for f in (ckpt / log).iterdir()}
        entries = sorted(n for n in names if n.isdigit())
        assert len(entries) >= 2, log
        for n in entries:
            assert f".{n}.crc" in names, (log, n)
