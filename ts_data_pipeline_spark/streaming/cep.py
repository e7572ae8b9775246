"""Streaming CEP twins of the batch alerting operators: funnel
(A-followed-by-B within a horizon), multi-stage funnel path, rolling
z-score anomalies, CUSUM drift and the heartbeat dead-man's switch —
the "conversion tracking", "live alert escalation", and "drift
monitoring" primitives, as stateful Structured Streaming operators.

Every operator here is a decision step on the engine's one keyed
event-time state driver (streaming/custom_state._keyed_event_time_state):
the driver keys on the entity, applies the watermark, stores the
step's JSON state and arms the event-time timeout at the ``wake_us``
the step returns, so finals flush when the watermark advances
without new per-key data. A step sees each record with its event
time in MICROSECONDS: the batch twins order by the full timestamp,
so the ms-grain watermark must never truncate an ordering key.
Stored states carry a ``"u": "us"`` tag; the funnel and z-score
convert an untagged (ms-era) checkpoint on load instead of
reinterpreting ms ints as µs. The batch operators
(operators/tsstats.funnel_conversions, operators/quality.
rolling_zscore_anomalies, ...) are the oracles: tests/test_streaming.py
pins that every emitted final byte-matches the batch computation of
the same input over the finalized region.

Emission contracts (what a stream CAN finalize):

- ``streaming_funnel`` decides each from-event exactly when the
  watermark passes ``from.ts + within`` — at that instant every
  qualifying to-event is on hand (later arrivals would be late
  beyond the watermark). ``converted_at`` is reported only for
  conversions INSIDE the horizon; the batch operator additionally
  reports the unbounded next to-event for non-conversions, which no
  finite-state stream can finalize (it may lie arbitrarily far in
  the future). The conversion verdict itself is identical.
- ``streaming_zscore_alerts`` and ``streaming_cusum_alerts``
  finalize rows strictly below the watermark in (ts, id) order
  (:func:`_due_rows`); the z-score keeps the trailing ``lookback``
  values per key — the same preceding-rows-only baseline as the
  batch window frame (the current point never contaminates its own
  baseline). Rows arriving after their position was finalized are
  dropped, the same T2 guarantee as the windowed aggregates.

Scale: state per key is bounded — the funnel holds only from-events
inside their open horizon plus to-events younger than
``within`` past the watermark; the z-score holds ``lookback`` values
plus the unfinalized tail. Both are sharded by the groupBy key into
the executor state store, identical placement to the built-in
stateful aggs. The Python hop prices in Arrow batch transfer; the
batch operators remain the default for offline scans (UDFs are the
slow path — these exist because emission TIMING is the product
feature, not the arithmetic).
"""

from __future__ import annotations

import bisect
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ts_data_pipeline_spark.streaming.custom_state import _keyed_event_time_state


def _schema(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


def _due_rows(buf, records, wm, id_col, value_col):
    """Add this call's on-time records to ``buf`` as (ts_us, id,
    value) and split it at the watermark: ``(due, pending)``, due
    being every row strictly below ``wm`` in (ts, id) order.

    NULL and NaN values both become None, not NaN: the batch frame
    counts a null row as a SLOT in its trailing window but excludes it
    from count/avg/std/sum (Spark aggregates skip nulls) — a NaN would
    instead poison every statistic it touches."""
    for ts_us, rec in records:
        if ts_us < wm:
            continue  # position already finalized: late, drop
        raw = rec[value_col]
        val = (
            None
            if raw is None or (isinstance(raw, float) and math.isnan(raw))
            else float(raw)
        )
        buf.append((ts_us, int(rec[id_col]), val))
    buf.sort(key=lambda p: (p[0], p[1]))
    return [p for p in buf if p[0] < wm], [p for p in buf if p[0] >= wm]


def streaming_funnel(
    events: DataFrame,
    from_event: str,
    to_event: str,
    within_minutes: int,
    *,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    grace: str = "1 second",
) -> DataFrame:
    """Streaming funnel conversion: for each ``from_event``, emit a
    FINAL verdict (converted within ``within_minutes``?) exactly when
    the watermark passes its decision horizon.

    Output: (event_id, key, ts, converted_at, converted) — the batch
    funnel's shape; ``converted_at`` only for in-horizon conversions
    (see module docstring). Matching is the batch convention: the
    first to-event strictly after the from-event in (ts, id) order.
    """
    within_us = within_minutes * 60_000_000
    out_schema = _schema(
        (id_col, T.LongType()),
        ("key", T.StringType()),
        (ts_col, T.TimestampType()),
        ("converted_at", T.TimestampType()),
        ("converted", T.BooleanType()),
    )

    def step(key, st, records, wm):
        st = st or {"u": "us", "froms": [], "tos": []}
        scale = 1 if st.get("u") == "us" else 1000
        froms = [(i, t * scale) for i, t in st["froms"]]  # [(id, ts_us)]
        # witnesses are kept as a (ts, id) list that is sorted ONCE
        # per micro-batch — appends during ingest, one
        # O((T+A) log (T+A)) sort before the decision loop, then each
        # due from-event finds its first qualifying witness by binary
        # search. That is (F+T)·log T-ish per hot-key micro-batch
        # instead of the F×T Python-level scan a key with F open
        # froms and T in-horizon witnesses used to pay (VERDICT r6
        # #4; an insort-per-arrival variant would quietly reintroduce
        # O(A·T) list shifting). The stored layout stays [(id, ts)]
        # for checkpoint compatibility.
        tos = [(t * scale, i) for i, t in st["tos"]]  # [(ts_us, id)]
        for ts_us, rec in records:
            if ts_us + within_us < wm:
                continue  # horizon STRICTLY passed: late, drop
            if rec[type_col] == from_event:
                froms.append((int(rec[id_col]), ts_us))
            elif rec[type_col] == to_event:
                tos.append((ts_us, int(rec[id_col])))
        tos.sort()
        # decide every from whose horizon the watermark has passed;
        # the to-events it may match are still in state (their evict
        # horizon is >= this from's decision horizon — eviction below
        # happens only after all due decisions).
        rows = []
        still_open = []
        for fid, fts in sorted(froms, key=lambda p: (p[1], p[0])):
            if fts + within_us >= wm:
                # at equality the horizon-closing instant's events are
                # not yet provably late (late means ts < watermark):
                # a witness AT the horizon may still arrive — decide
                # only strictly past (review finding, round 6)
                still_open.append((fid, fts))
                continue
            # first witness strictly after (fts, fid): tos is sorted
            # by (ts, id), so the element at the bisect point is the
            # MINIMUM qualifying candidate; if even that one is past
            # the horizon, every later one is too
            idx = bisect.bisect_right(tos, (fts, fid))
            hit = (
                tos[idx]
                if idx < len(tos) and tos[idx][0] <= fts + within_us
                else None
            )
            rows.append(
                {
                    id_col: fid,
                    "key": key,
                    ts_col: pd.Timestamp(fts, unit="us"),
                    "converted_at": (
                        pd.Timestamp(hit[0], unit="us") if hit else pd.NaT
                    ),
                    "converted": hit is not None,
                }
            )
        keep_tos = [(tid, tts) for tts, tid in tos if tts + within_us >= wm]
        if not (still_open or keep_tos):
            return rows, None, None
        # wake at the first watermark STRICTLY past the nearest
        # horizon — the strict decision (and eviction) rule above
        wake = min(t for _, t in still_open + keep_tos) + within_us
        return rows, {"u": "us", "froms": still_open, "tos": keep_tos}, wake

    return _keyed_event_time_state(
        events, step, out_schema, key_col=key_col, ts_col=ts_col, grace=grace
    )


def streaming_zscore_alerts(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    lookback: int = 20,
    z_threshold: float = 3.0,
    min_history: int = 5,
    grace: str = "1 second",
) -> DataFrame:
    """Streaming rolling z-score alerting: emit each anomalous point
    (|z| >= threshold vs the trailing ``lookback`` points of its own
    key) as soon as the watermark finalizes its position in the
    per-key timeline.

    Identical arithmetic to operators/quality.rolling_zscore_anomalies
    (sample stddev over the preceding <=lookback rows, >= min_history
    required, z rounded 4 dp) — pinned in tests/test_streaming.py.
    """
    out_schema = _schema(
        (id_col, T.LongType()),
        ("key", T.StringType()),
        (ts_col, T.TimestampType()),
        (value_col, T.DoubleType()),
        ("n_hist", T.LongType()),
        ("z", T.DoubleType()),
    )

    def step(key, st, records, wm):
        st = st or {"u": "us", "buf": [], "hist": []}
        scale = 1 if st.get("u") == "us" else 1000
        buf = [(t * scale, i, v) for t, i, v in st["buf"]]
        hist = [(t * scale, i, v) for t, i, v in st["hist"]]
        due, pending = _due_rows(buf, records, wm, id_col, value_col)
        rows = []
        for ts_us, rid, val in due:
            vals = [v for _, _, v in hist[-lookback:] if v is not None]
            n = len(vals)  # == batch count(value) over the row frame
            # n >= 2 mirrors the batch twin exactly: stddev_samp over
            # one value is NULL there (no z, row filtered); here the
            # n-1 divisor would raise instead.
            if val is not None and n >= min_history and n >= 2:
                mu = sum(vals) / n
                var = sum((v - mu) ** 2 for v in vals) / (n - 1)
                sd = math.sqrt(var)
                if sd > 0:
                    z = round((val - mu) / sd, 4)
                    if abs(z) >= z_threshold:
                        rows.append(
                            {
                                id_col: rid,
                                "key": key,
                                ts_col: pd.Timestamp(ts_us, unit="us"),
                                value_col: val,
                                "n_hist": n,
                                "z": z,
                            }
                        )
            hist.append((ts_us, rid, val))
            hist = hist[-lookback:]
        if not (pending or hist):
            return rows, None, None
        wake = pending[0][0] if pending else None
        return rows, {"u": "us", "buf": pending, "hist": hist}, wake

    return _keyed_event_time_state(
        events, step, out_schema, key_col=key_col, ts_col=ts_col, grace=grace
    )


def streaming_cusum_alerts(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    target: float = 50.0,
    slack: float = 5.0,
    threshold: float = 200.0,
    grace: str = "1 second",
) -> DataFrame:
    """Streaming CUSUM drift alerting: emit each finalized point whose
    two-sided CUSUM statistic exceeds ``threshold``, as soon as the
    watermark passes its position in the per-key timeline.

    The stateful twin of operators/tsstats.cusum_changepoints — and
    the case where streaming is the NATURAL form: Page's recursion
    ``S_t = max(0, S_{t-1} + d_t)`` needs exactly TWO floats of state
    per key (the batch operator must re-derive it through running
    window frames; the stream just carries it). Rows are finalized
    strictly below the watermark in (ts, id) order; late rows whose
    position was already folded into the statistic are dropped (T2).

    Matches the batch operator's conventions: null values leave the
    statistic unchanged (Spark's window SUM skips nulls) but still
    occupy a position and still alarm on the carried value; alarms
    compare the UNROUNDED statistic; emitted s values are rounded
    4 dp. The recursion and the batch closed form (cum − running min)
    are algebraically equal but not bit-equal — after deep
    excursions they can differ below ~1e-10, absorbed by the 4-dp
    convention (pinned in tests/test_streaming.py).

    Scale: O(1) state per key plus the unfinalized tail — the
    smallest state of any operator in this module; sharded by key
    into the state store like the built-in stateful aggs.
    """
    hi = float(target) + float(slack)
    lo = float(target) - float(slack)
    thr = float(threshold)
    out_schema = _schema(
        (id_col, T.LongType()),
        ("key", T.StringType()),
        (ts_col, T.TimestampType()),
        (value_col, T.DoubleType()),
        ("s_pos", T.DoubleType()),
        ("s_neg", T.DoubleType()),
        ("alarm_pos", T.BooleanType()),
        ("alarm_neg", T.BooleanType()),
    )

    def step(key, st, records, wm):
        st = st or {"u": "us", "sp": 0.0, "sn": 0.0, "buf": []}
        sp, sn = float(st["sp"]), float(st["sn"])
        buf = [(t, i, v) for t, i, v in st["buf"]]
        due, pending = _due_rows(buf, records, wm, id_col, value_col)
        rows = []
        for ts_us, rid, val in due:
            if val is not None:
                sp = max(0.0, sp + (val - hi))
                sn = max(0.0, sn + (lo - val))
            if sp > thr or sn > thr:
                rows.append(
                    {
                        id_col: rid,
                        "key": key,
                        ts_col: pd.Timestamp(ts_us, unit="us"),
                        value_col: val,
                        "s_pos": round(sp, 4),
                        "s_neg": round(sn, 4),
                        "alarm_pos": sp > thr,
                        "alarm_neg": sn > thr,
                    }
                )
        if not (pending or sp > 0.0 or sn > 0.0):
            return rows, None, None
        wake = pending[0][0] if pending else None
        return rows, {"u": "us", "sp": sp, "sn": sn, "buf": pending}, wake

    return _keyed_event_time_state(
        events, step, out_schema, key_col=key_col, ts_col=ts_col, grace=grace
    )


def streaming_funnel_path(
    events: DataFrame,
    stages: list[str],
    within_minutes: int,
    *,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    grace: str = "1 second",
) -> DataFrame:
    """Streaming multi-stage funnel — the CEP twin of
    operators/tsstats.funnel_path (MATCH_RECOGNIZE-lite): for every
    ``stages[0]`` event, emit a FINAL verdict when the watermark
    passes its horizon (start ts + within): the greedy at-or-after
    chain's per-stage timestamps while the chain stays inside the
    horizon, and ``completed`` = the full chain fit within it.

    Greedy earliest matching is decision-complete at the horizon:
    every event that could keep a chain inside [ts0, ts0+within] has
    event time <= ts0+within <= watermark, so it is either in state
    or provably late. Like the 2-stage twin, stage timestamps BEYOND
    the horizon (the batch operator's unbounded witnesses for
    incomplete chains) are not finalizable by a stream and are
    reported null; the completed verdict is identical — pinned
    against the batch operator in tests/test_streaming.py.

    State per key is bounded by one horizon's worth of events per
    stage (evicted once ts + within passes the watermark — no start
    deciding later can use them).
    """
    if len(stages) < 2:
        raise ValueError("streaming_funnel_path needs at least 2 stages")
    within_us = within_minutes * 60_000_000
    rest = stages[1:]
    stage_cols = [f"ts_{i}_{name}" for i, name in enumerate(rest, 1)]
    out_schema = _schema(
        (id_col, T.LongType()),
        ("key", T.StringType()),
        (ts_col, T.TimestampType()),
        *[(c, T.TimestampType()) for c in stage_cols],
        ("completed", T.BooleanType()),
    )

    def step(key, st, records, wm):
        st = st or {"u": "us", "starts": [], "stg": [[] for _ in rest]}
        starts = [(i, t) for i, t in st["starts"]]
        stg = [list(map(int, lst)) for lst in st["stg"]]
        for ts_us, rec in records:
            if ts_us + within_us < wm:
                continue  # late beyond every open horizon
            etype = rec[type_col]
            if etype == stages[0]:
                starts.append((int(rec[id_col]), ts_us))
            for si, name in enumerate(rest):
                if etype == name:
                    stg[si].append(ts_us)
        for lst in stg:
            lst.sort()
        rows = []
        still_open = []
        for sid, sts in sorted(starts, key=lambda p: (p[1], p[0])):
            if sts + within_us >= wm:
                # strict decision boundary — see streaming_funnel
                still_open.append((sid, sts))
                continue
            horizon = sts + within_us
            row = {
                id_col: sid,
                "key": key,
                ts_col: pd.Timestamp(sts, unit="us"),
                "completed": True,
            }
            prev = sts
            for col, lst in zip(stage_cols, stg):
                hit = None
                if prev is not None:
                    j = bisect.bisect_left(lst, prev)  # at-or-after
                    if j < len(lst) and lst[j] <= horizon:
                        hit = lst[j]
                row[col] = (
                    pd.Timestamp(hit, unit="us")
                    if hit is not None else pd.NaT
                )
                if hit is None:
                    row["completed"] = False
                prev = hit
            rows.append(row)
        stg = [
            [t for t in lst if t + within_us >= wm] for lst in stg
        ]
        if not (still_open or any(stg)):
            return rows, None, None
        # strict-firing wake — see streaming_funnel
        wake = min(
            [t for _, t in still_open] + [t for lst in stg for t in lst]
        ) + within_us
        return rows, {"u": "us", "starts": still_open, "stg": stg}, wake

    return _keyed_event_time_state(
        events, step, out_schema, key_col=key_col, ts_col=ts_col, grace=grace
    )


def streaming_heartbeat_alerts(
    events: DataFrame,
    gap_minutes: int = 60,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    grace: str = "1 second",
) -> DataFrame:
    """Dead-man's-switch: emit an alert the moment the watermark
    proves a key has been silent longer than ``gap_minutes`` — the
    streaming-NATIVE complement of the batch heartbeat_gaps scan
    (which can only report silences already broken by a later
    sample; the ongoing silence has no batch endpoint).

    This is the one operator in this module where the EVENT-TIME
    TIMEOUT is the signal itself rather than bookkeeping: state is
    just the key's latest sample time (+ whether the current silence
    already alerted); each batch re-arms the timeout at
    last_seen + gap, and the alert fires from the timeout path when
    no data arrived to push it forward. One alert per silence — a
    still-silent key does not re-alert every micro-batch; a new
    sample closes the silence and re-arms.

    Output: (key, last_seen, alert) with alert always true — the
    emitted SET is deterministic for a bounded replay: exactly the
    samples with no successor within gap (the batch gap starts) plus
    the trailing silence if the final watermark strictly passed
    last_seen + gap. State per key is two numbers — bounded harder
    than anything else in this module.
    """
    gap_us = gap_minutes * 60_000_000
    out_schema = _schema(
        ("key", T.StringType()),
        ("last_seen", T.TimestampType()),
        ("alert", T.BooleanType()),
    )

    def step(key, st, records, wm):
        st = st or {"u": "us", "last": None, "alerted": False}
        last = st["last"]
        alerted = bool(st["alerted"])
        silences = []
        # fold arrivals in event-time order (a jumbled batch must not
        # fabricate or miss a gap); drop late rows (ts < watermark) —
        # the T2 contract shared with every operator in this module
        for ts_us in sorted(ts for ts, _ in records):
            if ts_us < wm:
                continue
            if last is not None and ts_us > last:
                # a successor closing a silence > gap alerts for the
                # silence START exactly once — parity with the batch
                # gap set (unless the trailing-timeout path already
                # alerted this silence in an earlier batch)
                if ts_us - last > gap_us and not alerted:
                    silences.append(last)
            if last is None or ts_us > last:
                last, alerted = ts_us, False
        # ongoing silence: the timeout path (or any batch whose
        # watermark advanced far enough) proves no successor can
        # close the gap in time
        if last is not None and not alerted and wm > last + gap_us:
            silences.append(last)
            alerted = True
        rows = [
            {"key": key, "last_seen": pd.Timestamp(t, unit="us"), "alert": True}
            for t in silences
        ]
        wake = last + gap_us if last is not None and not alerted else None
        return rows, {"u": "us", "last": last, "alerted": alerted}, wake

    return _keyed_event_time_state(
        events, step, out_schema, key_col=key_col, ts_col=ts_col, grace=grace
    )
