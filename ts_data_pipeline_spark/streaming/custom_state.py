"""Keyed event-time state for stateful Python operators, and the
arbitrary user reducer over keyed tumbling windows (§2.8 parity).

:func:`_keyed_event_time_state` is the engine's one
``applyInPandasWithState`` driver. It owns the watermark, the string
``_key`` grouping, the JSON state column (load, update, remove), the
µs event-time decode, the timeout arming and the output frame. An
operator supplies only its decision step::

    step(key, state, records, wm_us) -> (rows, new_state, wake_us)

``state`` is the decoded JSON (None for a new key), ``records``
yields ``(ts_us, record-dict)`` for this call's rows (none when the
key timed out), ``wm_us`` is the current watermark in µs. The step
returns its output rows (dicts keyed by the output schema), the state
to store (None removes it) and ``wake_us``, the event time the
watermark must STRICTLY pass before the key is called again without
data (None arms nothing). Event-time timeouts fire when the ms
watermark strictly exceeds the set timestamp, so ``floor(wake_us /
1000)`` fires exactly at the first watermark past ``wake_us``; it is
clamped to the watermark, the earliest instant Spark accepts.

The reference's window aggregation API takes *user-supplied Python
callables* — ``initializer`` seeds the per-(key, window) state and
``reducer`` folds each record into it
(/root/reference/option_trade_aggs/main.py:85-188, wired at
main.py:221-225). The declarative conditional-sum restatement
(operators/window_agg.py) covers the shipped reducer;
:func:`keyed_window_reduce` is the general form for reducers that are
not expressible as SQL aggregates. Its semantics mirror the
declarative path (T1-T3): event-time tumbling windows, watermark
grace, append-mode emit-final. State per key is a dict of open
windows -> opaque accumulator; windows whose end has passed the
watermark are emitted and evicted at batch boundaries, and rows
arriving after their window was evicted are dropped (the same
guarantee Spark gives the built-in aggregation — see
tests/test_streaming.py for the pinned behavior).

Scale: state lives in the executor state store sharded by the groupBy
key — identical placement to the built-in agg; the Python hop prices
in Arrow batch transfer, which is why the declarative path remains
the default (UDFs are the slow path, reducers only when semantics
demand them). The CEP operators in streaming/cep.py run on the same
driver.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

Initializer = Callable[[], dict]
Reducer = Callable[[dict, dict], dict]
Step = Callable[
    [str, Any, Iterator[Tuple[int, dict]], int], Tuple[list, Any, Optional[int]]
]

_STATE_SCHEMA = T.StructType([T.StructField("js", T.StringType())])


def _keyed_event_time_state(
    df: DataFrame,
    step: Step,
    out_schema: T.StructType,
    *,
    key_col: str,
    ts_col: str,
    grace: str,
) -> DataFrame:
    """Run ``step`` per ``key_col`` value under an event-time
    watermark with ``grace`` (see the module docstring for the step
    contract); append-mode output with ``out_schema``."""
    columns = out_schema.fieldNames()

    def records(pdfs: Iterator[pd.DataFrame]) -> Iterator[Tuple[int, dict]]:
        for pdf in pdfs:
            for rec in pdf.to_dict("records"):
                del rec["_key"]  # the grouping column, not the caller's
                yield int(rec[ts_col].value // 1_000), rec

    def fold(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        rows, new_state, wake_us = step(
            key[0],
            json.loads(state.get[0]) if state.exists else None,
            records(pdfs),
            wm_ms * 1000,
        )
        if new_state is not None:
            state.update((json.dumps(new_state),))
            if wake_us is not None:
                state.setTimeoutTimestamp(max(wake_us // 1000, wm_ms))
        elif state.exists:
            state.remove()
        yield pd.DataFrame(rows, columns=columns)

    return (
        df.withWatermark(ts_col, grace)
        .withColumn("_key", F.col(key_col).cast("string"))
        .groupBy("_key")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def keyed_window_reduce(
    trades: DataFrame,
    initializer: Initializer,
    reducer: Reducer,
    *,
    key_col: str = "osym",
    ts_col: str = "ts",
    window_ms: int = 60_000,
    grace: str = "1 second",
    value_fields: Tuple[Tuple[str, str], ...] = (("trade_count", "long"),),
) -> DataFrame:
    """Fold a user reducer over keyed tumbling windows, emit finals.

    ``value_fields`` declares the accumulator's output columns
    (name, spark-type). The reducer sees each record as a plain dict
    (the reference's record shape) and returns the updated
    accumulator dict. State: JSON {window_start_ms: accumulator}.
    """
    out_schema = T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField("window_end", T.TimestampType()),
            T.StructField(key_col, T.StringType()),
        ]
        + [
            T.StructField(n, T._parse_datatype_string(t))
            for n, t in value_fields
        ]
    )
    field_names = [n for n, _ in value_fields]

    def step(key, st, records, wm_us):
        wm = wm_us // 1000
        windows = {int(k): v for k, v in (st or {}).items()}
        for ts_us, rec in records:
            ts_ms = ts_us // 1000
            w_start = ts_ms - ts_ms % window_ms
            if w_start + window_ms <= wm and w_start not in windows:
                continue  # late beyond eviction: dropped (T2)
            acc = windows.setdefault(w_start, initializer())
            windows[w_start] = reducer(acc, rec)
        rows = []
        for w in sorted(w for w in windows if w + window_ms <= wm):
            acc = windows.pop(w)
            rows.append(
                {
                    "window_start": pd.Timestamp(w, unit="ms"),
                    "window_end": pd.Timestamp(w + window_ms, unit="ms"),
                    key_col: key,
                    **{n: acc.get(n) for n in field_names},
                }
            )
        if not windows:
            return rows, None, None
        # Wake this key when the watermark reaches the oldest open
        # window's end so finals flush without new per-key data (T3).
        # The emission predicate (and the built-in agg, pinned by
        # test_append_emits_at_exact_watermark_boundary) closes a
        # window at watermark == window_end, so the watermark must
        # strictly pass the instant 1 µs before it.
        wake_us = (min(windows) + window_ms) * 1000 - 1
        return rows, {str(k): v for k, v in windows.items()}, wake_us

    return _keyed_event_time_state(
        trades, step, out_schema, key_col=key_col, ts_col=ts_col, grace=grace
    )


# ---------------------------------------------------------------------
# S8/T11 — live pub/sub push sink with wildcard subscriptions
# ---------------------------------------------------------------------

class PushHub:
    """In-process analog of the dashboard hub (S8):
    ``SubscribeToParameter(topic, "*", "*")`` wildcard subscriptions
    receiving columnar batches
    (/root/reference/dashboard/src/services/quix.ts:100-146, wired
    with wildcards in /root/reference/dashboard/src/App.js:59-61).

    Each subscription gets, per micro-batch, the matching rows as a
    dict of parallel arrays — the reference's ``Data`` wire shape
    (dashboard/src/Models/data.ts:16-41).

    Driver-safety: the union of subscription predicates is pushed
    into the batch plan (non-matching rows never leave the
    executors), and the collect is capped at ``max_rows_per_batch``
    — a wildcard subscription on a hot topic truncates the batch
    (counted in ``truncated_batches``) instead of OOMing the driver.
    """

    def __init__(self, max_rows_per_batch: int = 10_000) -> None:
        self._subs: list[tuple[str, str, Callable[[dict], Any]]] = []
        self.max_rows_per_batch = max_rows_per_batch
        self.truncated_batches = 0

    def subscribe(
        self, stream_id: str, parameter_id: str, callback: Callable[[dict], Any]
    ) -> None:
        self._subs.append((stream_id, parameter_id, callback))

    def _match_predicate(self):
        from pyspark.sql import functions as F

        cond = None
        for stream_pat, param_pat, _ in self._subs:
            p = F.lit(True)
            if stream_pat != "*":
                p = p & (F.col("stream_id") == stream_pat)
            if param_pat != "*":
                p = p & (F.col("parameter_id") == param_pat)
            cond = p if cond is None else (cond | p)
        return cond

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """``writeStream.foreachBatch(hub.foreach_batch)`` handler."""
        if not self._subs:
            return
        cap = self.max_rows_per_batch
        rows = (
            batch_df.filter(self._match_predicate()).limit(cap + 1).collect()
        )
        if len(rows) > cap:
            self.truncated_batches += 1
            rows = rows[:cap]
        for stream_pat, param_pat, cb in self._subs:
            hit = [
                r
                for r in rows
                if (stream_pat == "*" or r["stream_id"] == stream_pat)
                and (param_pat == "*" or r["parameter_id"] == param_pat)
            ]
            if not hit:
                continue
            cols = hit[0].asDict().keys()
            cb({c: [r[c] for r in hit] for c in cols})
