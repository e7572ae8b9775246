"""Shared machinery for the perfbench workloads.

- :class:`Tracer` records spans (name, start, end, parent, request id)
  around the benchmark's calls into the engine's layers, counts py4j
  round trips, and reads Spark job/task counts per job group. With
  tracing off every hook is a no-op, so the untraced run does the same
  engine work without the bookkeeping.
- :class:`Run` holds one run's counters, samples and result line.
- :func:`start_session` / :func:`shutdown` own the engine session and
  the JVM process it starts.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import json
import os
import statistics
import threading
import time
import traceback

import numpy as np
import pandas as pd

#: Every traced per-layer metric has a unit; the traced run prints all
#: of them on every workload (0 where a workload leaves the layer idle).
STAGES = (
    "flagship_option_window_agg",
    "telemetry_bucket_multi_agg",
    "telemetry_interp_linear",
    "asof_trade_quote",
    "join_segment_top_orders",
    "dedup_minhash_lsh",
    "pricing_summary",
)

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "warmup_s": "s",
    "io.load_s": "s",
    "telemetry.adapter_s": "s",
    "queryspec.build_s": "s",
    "queryspec.py4j_calls": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "streaming.batch_p50_s": "s",
    "streaming.batch_p90_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.plan_s": "s",
    "streaming.wal_s": "s",
    "streaming.offsets_s": "s",
    "streaming.sink_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_s": "s",
    "streaming.rows_per_batch": "count",
    "streaming.backlog_max": "count",
    "generator.lag_s": "s",
    "latency_p90_s": "s",
    "trace.batch_s": "s",
    "trace.coverage": "ratio",
}
#: the stages ``recipes.build_training_corpus`` times in its default
#: configuration
RECIPE_STAGES = ("gates", "lm_gate", "neardup", "resample")

PER_LAYER_UNITS.update({
    "recipe.build_s": "s",
    "recipe.exec_s": "s",
    "recipe.jobs": "count",
    "recipe.tasks": "count",
})
for _s in RECIPE_STAGES:
    PER_LAYER_UNITS[f"recipe.stage.{_s}_s"] = "s"
for _s in STAGES:
    PER_LAYER_UNITS[f"stage.{_s}.build_s"] = "s"
    PER_LAYER_UNITS[f"stage.{_s}.exec_s"] = "s"
    PER_LAYER_UNITS[f"stage.{_s}.tasks"] = "count"
    PER_LAYER_UNITS[f"stage.{_s}.scan_bytes"] = "bytes"

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "batch_s": "s",
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def p90(xs) -> float:
    """Inclusive 90th percentile (linear interpolation)."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


class Tracer:
    """Span recorder. Spans live in memory and are written at exit.

    Each thread keeps its own span stack, so a sink callback running
    on a py4j callback thread opens root spans of its own.
    """

    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self.request = None
        self.py4j_calls = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._client = None

    # -- spans ------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "request": self.request,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
            "py4j": self.py4j_calls,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec["py4j"]

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished root span (e.g. interpreter start-up)."""
        if self.enabled:
            with self._lock:
                self.spans.append({
                    "id": len(self.spans), "name": name, "parent": None,
                    "request": None, "thread": threading.get_ident(),
                    "start": start, "end": end, "py4j": 0,
                })

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -- py4j round trips ----------------------------------------------
    def count_py4j(self, spark) -> None:
        """Wrap the gateway client's send so every round trip counts."""
        if not self.enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        if self._client is client:
            return
        orig = client.send_command

        def send_command(*args, **kwargs):
            with self._lock:
                self.py4j_calls += 1
            return orig(*args, **kwargs)

        client.send_command = send_command
        self._client = client

    # -- Spark jobs and tasks ------------------------------------------
    @contextlib.contextmanager
    def job_group(self, spark, group: str, out: dict):
        """Tag the jobs run inside with ``group``; on exit add their
        job and completed-task counts to ``out``."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    tasks += st.numCompletedTasks if st else 0
            out["jobs"] = out.get("jobs", 0) + len(jobs)
            out["tasks"] = out.get("tasks", 0) + tasks
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- summaries -----------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per span name, over the timed requests only (spans with a
        request id): total duration minus time covered by children."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s and s["request"] is not None:
                d = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def by_name(self, name: str) -> list[dict]:
        """Finished spans of ``name`` inside timed requests."""
        return [s for s in self.spans if s["name"] == name and "end" in s
                and s["request"] is not None]

    def coverage(self, t_end: float) -> float:
        """Share of [t0, t_end] covered by the union of root spans."""
        iv = sorted(
            (s["start"], s["end"])
            for s in self.spans
            if s["parent"] is None and "end" in s
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered / max(t_end - self.t0, 1e-9)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {**s, "start": s["start"] - self.t0,
                     "end": s.get("end", s["start"]) - self.t0}
                    for s in self.spans
                ],
                f,
            )


class Run:
    """One benchmark run: its tracer, counters and reported metrics."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 root: str, t0: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace, t0)
        self.attempted = 0
        self.failed = 0
        self.checks_failed: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}
        self.work_dir = os.path.join(root, ".perfbench_work", str(os.getpid()))
        self.spark = None
        self.inputs_s = 0.0

    def timed_start(self, at: float | None = None) -> None:
        """``setup_s``: process start until the first timed operation
        (``at``, default now), input generation left out."""
        at = time.perf_counter() if at is None else at
        self.e2e["setup_s"] = at - self.tracer.t0 - self.inputs_s
        log(f"setup_s={self.e2e['setup_s']:.3f}")

    @property
    def trace(self) -> bool:
        return self.tracer.enabled

    def op(self, fn, *args, **kwargs):
        """Run one timed operation; a raise counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # the benchmark must keep running
            self.failed += 1
            traceback.print_exc()
            log(f"operation failed: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Record one correctness check; a mismatch is a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.checks_failed.append(name)
            log(f"CHECK FAILED {name}: {detail}")

    def result(self) -> dict:
        if self.trace:
            units, vals = PER_LAYER_UNITS, self.layers
        else:
            units, vals = END_TO_END_UNITS, self.e2e
        return {
            "correct": not self.checks_failed and self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {
                k: {"value": float(vals.get(k, 0.0)), "unit": u}
                for k, u in units.items()
            },
        }


def start_session(run: Run):
    """The engine's own session factory, timed as ``session.start``."""
    from ts_data_pipeline_spark import session

    with run.tracer.span("session.get_spark"):
        spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    run.tracer.count_py4j(spark)
    return spark


def set_up(run: Run, make_inputs, load, prime=None):
    """Start the engine, write the inputs, load them and warm up.

    The set-up runs from process start (interpreter and JVM launch
    included): session start (``session.start_s``), then
    ``make_inputs()``, which writes the seeded inputs (its time is
    logged as ``inputs_s`` and left out of ``setup_s``), then
    ``load(spark, inputs)``, which loads the workload's tables and
    runs its first operation, then ``prime(spark, inputs, state)``, if
    given, which runs the workload untimed so the timed region starts
    with compiled plans (``warmup_s``). With a ``prime``, the set-up
    ends here (:meth:`Run.timed_start`); without one, the workload
    calls it when its first timed operation starts.
    Returns (inputs, state).
    """
    tr = run.tracer
    tr.record("process.start", tr.t0, time.perf_counter())
    start_session(run)
    run.layers["session.start_s"] = time.perf_counter() - tr.t0
    t = time.perf_counter()
    with tr.span("inputs.generate"):
        inputs = make_inputs()
    run.inputs_s = time.perf_counter() - t
    t = time.perf_counter()
    with tr.span("setup.load"):
        state = load(run.spark, inputs)
    load_s = time.perf_counter() - t
    t = time.perf_counter()
    if prime is not None:
        with tr.span("setup.prime"):
            prime(run.spark, inputs, state)
        run.timed_start()
    run.layers["warmup_s"] = time.perf_counter() - t
    log(f"session_s={run.layers['session.start_s']:.3f} "
        f"inputs_s={run.inputs_s:.3f} load_s={load_s:.3f} "
        f"warmup_s={run.layers['warmup_s']:.3f}")
    return inputs, state


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM process it launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # already closed
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _canon(v) -> str:
    """One engine-neutral spelling per value: integral numbers print
    as integers, other floats round to 6 places (both engines round
    aggregate floats to 4), datetimes print as epoch microseconds."""
    if v is None:
        return ""
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return str(ts.value // 1000)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f:
            return ""
        return str(int(f)) if f.is_integer() else repr(round(f, 6))
    if v is pd.NaT or v is pd.NA:
        return ""
    return str(v)


def _encode(col):
    """One column as a numpy int array that two engines agree on:
    integers as themselves, floats as integer micro-units (as plain
    integers when every value is integral), datetimes as epoch
    microseconds, anything else hashed from its :func:`_canon`
    spelling. Nulls encode as a fixed sentinel."""
    null = np.iinfo(np.int64).min
    if col.dtype == object:
        vals = [v for v in col if v is not None and not (
            isinstance(v, float) and v != v) and v is not pd.NaT]
        if vals and all(isinstance(v, (int, float, np.integer, np.floating))
                        and not isinstance(v, (bool, np.bool_)) for v in vals):
            col = pd.Series([np.nan if v is None else float(v) for v in col])
        elif vals and all(isinstance(v, (pd.Timestamp, np.datetime64))
                          or hasattr(v, "tzinfo") for v in vals):
            col = pd.to_datetime(pd.Series(list(col)), utc=True)
        else:
            return pd.util.hash_array(
                np.array([_canon(v) for v in col], dtype=object))
    if pd.api.types.is_datetime64_any_dtype(col):
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        us = col.astype("datetime64[us]").astype("int64").to_numpy()
        return np.where(col.isna().to_numpy(), null, us)
    if col.dtype.kind in "iu":
        return col.to_numpy().astype(np.int64)
    if col.dtype.kind == "b":
        return col.to_numpy().astype(np.int64)
    x = col.to_numpy(dtype=float, na_value=np.nan)
    na = np.isnan(x)
    xf = np.where(na, 0.0, x)
    if (xf == np.floor(xf)).all() and (np.abs(xf) < 2**62).all():
        enc = xf.astype(np.int64)
    else:
        enc = np.rint(np.clip(xf * 1e6, -9e18, 9e18)).astype(np.int64)
    return np.where(na, null, enc)


def frame_digest(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive value hash of a result:
    columns by name, one hash per row over the encoded values
    (:func:`_encode`), row hashes sorted."""
    cols = sorted(pdf.columns, key=str)
    enc = pd.DataFrame({str(c): _encode(pdf[c].reset_index(drop=True))
                        for c in cols})
    rows = np.sort(pd.util.hash_pandas_object(enc, index=False).to_numpy())
    h = hashlib.sha256(",".join(map(str, cols)).encode() + rows.tobytes())
    return len(pdf), h.hexdigest()[:16]


#: Both engines round aggregate floats to 4 places, and their round()
#: can break a decimal half-tie in opposite directions (Spark rounds
#: the decimal value half-up, DuckDB the scaled binary double), so a
#: float may differ by one unit of the 4th place. Large sums also
#: differ by their summation order: up to n * 2.2e-16 relative for n
#: rows, under 1e-10 for every result here.
FLOAT_ATOL = 1e-4 + 1e-9
FLOAT_RTOL = 1e-10


def compare(got, want) -> tuple[bool, str]:
    """Spark result vs oracle result: same columns and row count, and
    the same value hash, or else equal values with floats within
    ``FLOAT_ATOL`` + ``FLOAT_RTOL`` * |oracle value|."""
    dg, dw = frame_digest(got), frame_digest(want)
    detail = f"spark={dg} oracle={dw}"
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if dg == dw:
        return True, detail
    if dg[0] != dw[0]:
        return False, detail
    cols = sorted(got.columns)

    def is_float(v):
        return isinstance(v, (float, np.floating))

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            vals = list(df[c])
            nonnull = [v for v in vals if v is not None and not (
                is_float(v) and v != v)]
            if nonnull and all(is_float(v) for v in nonnull):
                df[c] = [np.nan if v is None else float(v) for v in vals]
            else:
                df[c] = [_canon(v) for v in vals]
        keys = [c for c in cols if df[c].dtype == object]
        return df.sort_values(keys + [c for c in cols if c not in keys],
                              kind="mergesort").reset_index(drop=True)

    a, b = norm(got), norm(want)
    for c in cols:
        if a[c].dtype == float and b[c].dtype == float:
            if not np.allclose(a[c], b[c], rtol=FLOAT_RTOL, atol=FLOAT_ATOL,
                               equal_nan=True):
                return False, f"{detail} column {c}"
        elif not (a[c].astype(str) == b[c].astype(str)).all():
            return False, f"{detail} column {c}"
    return True, detail + " (floats within tolerance)"
