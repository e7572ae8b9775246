"""``trade_stream``: the option-trade window stream, two phases.

The pipeline is the engine's own: ``parquet_stream`` ->
``events_as_option_trades`` -> ``streaming_option_window_agg``
(watermarked tumbling windows, append mode) -> a ``foreachBatch`` sink
that collects each micro-batch's closed windows.

- Phase A (closed loop, capacity): a seeded backlog of files is
  drained with ``availableNow``, one file per micro-batch. The first
  ``A_WARM`` micro-batches of the process pay query start-up and JIT
  compilation (about 10 s, then 3 s, on 4 cores) and the JIT still
  speeds up the two after them, so capacity is taken over the
  micro-batches after those.
- Phase B (open loop, latency): a generator thread writes one file
  every ``FILE_EVERY_S`` at a fixed event rate for ``B_SECONDS``
  (whatever ``--seconds`` is), each event stamped with its due time,
  under a ``processingTime`` trigger. A window's latency runs from the
  due time of its last event (over every key) to the moment the sink
  holds it; every key of a window reaches the sink in one micro-batch.
  After the last file the phase waits until every file is processed and
  the final watermark's windows are emitted, so it closes about
  ``B_SECONDS - 1`` one-second windows on any host, spread over as many
  emitting micro-batches as fit in the phase. The generator's own
  lateness and the file backlog are reported, and a backlog that grows
  over the phase fails the run.

``setup_s`` ends when phase A's first measured micro-batch starts.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import core
import datagen

KEYS = 64  # option symbols
WINDOW = "1 second"
WINDOW_US = 1_000_000
TRIGGER = "1 second"
# Phase A: the backlog, in event time 10 s per file; the first
# A_WARM micro-batches warm the process and are not measured.
A_FILES = 9
A_WARM = 5
A_EVENTS_PER_FILE = 20_000
A_SPAN_US = 10_000_000
# Phase B: the live rate, well under phase A's capacity on 4 cores,
# for long enough to close B_SECONDS windows.
B_RATE = 400  # events per second
B_SECONDS = 12
FILE_EVERY_S = 0.25
B_EVENTS_PER_FILE = int(B_RATE * FILE_EVERY_S)
# After the last file, wait (at most this long) until every file is
# processed and the micro-batch that emits the windows the final
# watermark closes has run, so a slow host closes as many windows.
B_DRAIN_MAX_S = 30.0
PREMIUM_MAX = 500.0  # whale trades (premium > 250) are about half


def _events(rng, n: int, start_us: int, span_us: int):
    return datagen.events_table(rng, n, KEYS, start_us, span_us, PREMIUM_MAX)


def _write(table, directory: str, name: str) -> None:
    """Atomically publish one file (the stream lists only finished ones)."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))


class Sink:
    """foreachBatch target: keeps each batch's closed windows and the
    wall time the sink held them."""

    def __init__(self, run: core.Run):
        self.run = run
        self.batches: list[tuple[float, list]] = []
        self.sink_s: list[float] = []

    def __call__(self, df, batch_id):
        t = time.perf_counter()
        with self.run.tracer.span("streaming.sink"):
            rows = df.collect()
        self.batches.append((time.time(), rows))
        self.sink_s.append(time.perf_counter() - t)


def _query(spark, src: str, schema, sink: Sink, ckpt: str, live: bool):
    from ts_data_pipeline_spark.operators import trades
    from ts_data_pipeline_spark.streaming import windowed

    stream = windowed.parquet_stream(spark, src, schema, max_files=None if live else 1)
    agg = windowed.streaming_option_window_agg(
        trades.events_as_option_trades(stream), WINDOW)
    w = (agg.writeStream.foreachBatch(sink).outputMode("append")
         .option("checkpointLocation", ckpt))
    w = w.trigger(processingTime=TRIGGER) if live else w.trigger(availableNow=True)
    return w.start()


def _drain(run: core.Run, spark, schema, src: str, tag: str):
    """availableNow drain of ``src``; returns (sink, query progress, wall s)."""
    sink = Sink(run)
    t = time.perf_counter()
    with run.tracer.span("streaming.drain"):
        q = _query(spark, src, schema, sink,
                   os.path.join(run.work_dir, f"ckpt-{tag}"), live=False)
        q.awaitTermination()
    wall = time.perf_counter() - t
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return sink, q.recentProgress, wall


def run(run: core.Run) -> None:
    tr = run.tracer
    rng = np.random.default_rng(run.seed % 2**32)
    t_base = 1_704_067_200_000_000  # phase A event time starts 2024-01-01

    def make_inputs():
        dirs = {}
        for tag, files in (("first", 1), ("a", A_FILES)):
            d = dirs[tag] = os.path.join(run.work_dir, f"src-{tag}")
            os.makedirs(d)
            for i in range(files):
                _write(_events(rng, A_EVENTS_PER_FILE, t_base + i * A_SPAN_US,
                               A_SPAN_US), d, f"part-{i:05d}.parquet")
        return dirs

    def load(spark, dirs):
        # the stream's schema from the files, then a first job over one
        from ts_data_pipeline_spark import io

        with tr.span("io.load"):
            df = io.normalize_timestamps(spark.read.parquet(dirs["first"]))
        with tr.span("spark.exec"):
            df.count()
        return df.schema

    # no prime: phase A's first A_WARM micro-batches are the warm-up
    dirs, schema = core.set_up(run, make_inputs, load)
    spark = run.spark

    # Phase A: capacity.
    tr.request = "A"
    t_drain = time.perf_counter()
    sink_a, prog_a, wall_a = run.op(_drain, run, spark, schema, dirs["a"], "a") or (
        None, [], 0.0)
    events_a = A_FILES * A_EVENTS_PER_FILE
    # Phase B: latency at a fixed rate.
    tr.request = "B"
    b = run.op(_live, run, spark, schema, rng)
    tr.request = None

    lat = b["latency"] if b else []
    data_a = [p for p in prog_a if p["numInputRows"] > 0]
    run.layers["warmup_s"] = sum(
        p["durationMs"]["triggerExecution"] / 1000 for p in data_a[:A_WARM])
    warm = data_a[A_WARM:]
    run.timed_start(_started(warm[0]) if warm else t_drain + wall_a)
    batch_a = [p["durationMs"]["triggerExecution"] / 1000 for p in warm]
    rows_a = sum(p["numInputRows"] for p in warm)
    run.e2e["latency_p50_s"] = core.median(lat)
    run.e2e["throughput_per_s"] = rows_a / sum(batch_a) if batch_a else 0.0
    run.e2e["batch_s"] = core.median(batch_a)
    core.log(
        f"trade_stream: A {len(batch_a)} warm batches of "
        f"{A_EVENTS_PER_FILE} events, batch_s={[round(x, 3) for x in batch_a]}"
        f" drain {wall_a:.3f}s; B {len(lat)} windows in "
        f"{b['emissions'] if b else 0} emitting micro-batches, latency "
        f"p50={core.median(lat):.4f}s p90={core.p90(lat):.4f}s "
        f"backlog_max={b['backlog_max'] if b else None} "
        f"generator_lag_max={b['lag_max'] if b else 0:.4f}s"
    )

    with tr.span("check.oracle"):
        if sink_a is not None:
            _check(run, spark, schema, dirs["a"], sink_a, prog_a, "A")
        if b is not None:
            _check(run, spark, schema, b["src"], b["sink"], b["progress"], "B")
            run.check("trade_stream:B backlog", not b["backlog_grew"],
                      f"backlog samples {b['backlog']}")

    if run.trace:
        _layers(run, prog_a, b, sink_a)


def _live(run: core.Run, spark, schema, rng) -> dict:
    """Phase B: open-loop generator thread + processingTime query."""
    src = os.path.join(run.work_dir, "src-b")
    os.makedirs(src)
    n_files = int(B_SECONDS / FILE_EVERY_S)
    written = [0]
    lags: list[float] = []
    last_due: dict[int, float] = {}  # window -> due time of its last event
    plans = []
    t0 = 0.0

    def generate():
        for i, tbl in enumerate(plans):
            due = t0 + (i + 1) * FILE_EVERY_S  # the file's last event is due
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            _write(tbl, src, f"part-{i:05d}.parquet")
            written[0] = i + 1
            lags.append(max(time.time() - due, 0.0))

    sink = Sink(run)
    gen = threading.Thread(target=generate, name="perfbench-generator")
    backlog: list[tuple[float, float]] = []
    rows_done: dict[int, int] = {}
    first_done: list[float] = []
    seen_ts = ""
    with run.tracer.span("streaming.live"):
        q = _query(spark, src, schema, sink,
                   os.path.join(run.work_dir, "ckpt-b"), live=True)
        # Draw every file up front, so the thread only sleeps and writes.
        # The schedule starts on a whole second, like the windows and
        # the trigger, so every run puts file boundaries at the same
        # place against them.
        t0 = float(int(time.time()) + 2)
        with run.tracer.span("inputs.generate"):
            for i in range(n_files):
                start_us = int((t0 + i * FILE_EVERY_S) * 1e6)
                tbl = _events(rng, B_EVENTS_PER_FILE, start_us,
                              int(FILE_EVERY_S * 1e6))
                ts = tbl.column("ts").cast("int64").to_numpy()
                for w in np.unique(ts // WINDOW_US):
                    due = ts[ts // WINDOW_US == w].max() / 1e6
                    last_due[int(w)] = max(last_due.get(int(w), 0.0), due)
                plans.append(tbl)
        gen.start()
        try:
            while gen.is_alive():
                time.sleep(0.25)
                p = q.lastProgress
                if p and p["timestamp"] != seen_ts:
                    seen_ts = p["timestamp"]
                    rows_done[p["batchId"]] = p["numInputRows"]
                    if not first_done and p["numInputRows"]:
                        first_done.append(time.time() - t0)
                backlog.append((time.time() - t0, written[0] - sum(
                    rows_done.values()) / B_EVENTS_PER_FILE))
            _drain_live(q, n_files * B_EVENTS_PER_FILE)
        finally:
            if gen.is_alive() or gen.ident is not None:
                gen.join(timeout=60)
            q.stop()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))

    sunk: dict[int, float] = {}  # window -> when the sink first held it
    emissions = 0
    for t_sink, rows in sink.batches:
        emissions += bool(rows)
        for r in rows:
            w = int(r["window_start"].timestamp() * 1e6) // WINDOW_US
            sunk.setdefault(w, t_sink)
    latency = [t - last_due[w] for w, t in sorted(sunk.items())]
    # Keeping up means the backlog left after each micro-batch does not
    # climb: compare its low point in the two halves of the phase after
    # the first micro-batch, allowing one trigger interval of files.
    after = [v for t, v in backlog if t >= first_done[0]] if first_done else []
    half = len(after) // 2
    per_trigger = float(TRIGGER.split()[0]) / FILE_EVERY_S
    grew = not after or (
        half > 0 and min(after[half:]) > min(after[:half]) + per_trigger)
    return {
        "src": src, "sink": sink, "progress": q.recentProgress,
        "latency": latency, "emissions": emissions,
        "lag_max": max(lags, default=0.0),
        "backlog": [round(v, 1) for _, v in backlog],
        "backlog_max": max((v for _, v in backlog), default=0.0),
        "backlog_grew": grew,
    }


def _drain_live(q, total_rows: int) -> None:
    """Wait until the query has read ``total_rows`` and then run a
    micro-batch with no input (the one the advanced watermark triggers,
    which emits the windows it closes)."""
    deadline = time.time() + B_DRAIN_MAX_S
    while time.time() < deadline:
        progress = q.recentProgress
        if (progress and progress[-1]["numInputRows"] == 0
                and sum(p["numInputRows"] for p in progress) >= total_rows):
            return
        time.sleep(0.2)


def _started(progress) -> float:
    """A micro-batch's start on the ``perf_counter`` clock."""
    wall = dt.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    wall = wall.replace(tzinfo=dt.timezone.utc).timestamp()
    return wall - time.time() + time.perf_counter()


def _check(run: core.Run, spark, schema, src: str, sink: Sink, progress,
           phase: str) -> None:
    """Streamed closed windows vs the batch operator over the same files,
    restricted to windows closed by the last reported watermark or
    before the last window the sink holds. (The query can stop after a
    micro-batch's sink call and before its progress, so the sink may
    hold windows closed by a watermark no progress reports; append mode
    emits only closed windows.)"""
    from ts_data_pipeline_spark.operators import trades, window_agg

    rows = [r for _, batch in sink.batches for r in batch]
    wm = next((p["eventTime"].get("watermark") for p in reversed(progress)
               if p.get("eventTime", {}).get("watermark")), None)
    batch = window_agg.option_window_agg(
        trades.events_as_option_trades(spark.read.schema(schema).parquet(src)),
        WINDOW)
    bounds = [f"timestamp'{wm}'"] if wm is not None else []
    if rows:
        last = max(r["window_end"] for r in rows)
        bounds.append(f"timestamp'{last:%Y-%m-%d %H:%M:%S.%f}'")
    if bounds:
        bound = bounds[0] if len(bounds) == 1 else f"greatest({', '.join(bounds)})"
        batch = batch.filter(f"window_end <= {bound}")
    want = batch.toPandas()
    cols = want.columns
    got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols) \
        if rows else pd.DataFrame(columns=cols)
    ok, detail = core.compare(got, want)
    run.check(f"trade_stream:{phase}", ok and len(got) > 0,
              f"{detail} watermark={wm}")


def _layers(run: core.Run, prog_a, b, sink_a) -> None:
    L = run.layers
    progress = list(prog_a) + (list(b["progress"]) if b else [])
    data = [p for p in progress if p["numInputRows"] > 0]

    def dur(key):
        return [p["durationMs"].get(key, 0) / 1000 for p in data]

    def state(key):
        return [p["stateOperators"][0].get(key, 0) for p in data
                if p.get("stateOperators")]

    trig = dur("triggerExecution")
    L["streaming.batch_p50_s"] = core.median(trig)
    L["streaming.batch_p90_s"] = core.p90(trig)
    L["streaming.add_batch_s"] = core.median(dur("addBatch"))
    L["streaming.plan_s"] = core.median(dur("queryPlanning"))
    L["streaming.wal_s"] = core.median(dur("walCommit"))
    L["streaming.offsets_s"] = core.median(
        [a + b_ for a, b_ in zip(dur("latestOffset"), dur("commitOffsets"))])
    L["streaming.state_rows"] = core.median(state("numRowsTotal"))
    L["streaming.state_bytes"] = core.median(state("memoryUsedBytes"))
    L["streaming.state_commit_s"] = core.median(
        [v / 1000 for v in state("commitTimeMs")])
    L["streaming.rows_per_batch"] = core.median([p["numInputRows"] for p in data])
    sinks = (sink_a.sink_s if sink_a else []) + (b["sink"].sink_s if b else [])
    L["streaming.sink_s"] = core.median(sinks)
    if b:
        L["streaming.backlog_max"] = b["backlog_max"]
        L["generator.lag_s"] = b["lag_max"]
        L["latency_p90_s"] = core.p90(b["latency"])
    warm = [p for p in prog_a if p["numInputRows"] > 0][A_WARM:]
    L["trace.batch_s"] = core.median(
        [p["durationMs"]["triggerExecution"] / 1000 for p in warm])
    L["trace.coverage"] = run.tracer.coverage(time.perf_counter())
