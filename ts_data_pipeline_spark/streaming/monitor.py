"""Streaming observability: query-progress monitor (Q1-Q6 live form).

The reference's MarketDataMonitor tracks throughput/latency/alerts in
the consume loop (/root/reference/darkpool_trades/metrics.py:90-183).
On Structured Streaming the engine already emits those measurements
per micro-batch; this listener collects them — rows/sec, batch
durations, watermark lag, state size — and applies the reference's
consecutive-alert rule (metrics.py:136-161) to batch-level signals
(e.g. N consecutive zero-input batches = feed outage).

Driver-side by design: progress events are per-batch control-plane
metadata (bytes, not data), so this adds zero load to executors.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetric:
    batch_id: int
    num_input_rows: int
    process_ms: Optional[float]
    watermark: Optional[str]
    state_rows: Optional[int]
    # First state operator's shuffle width and commit time: a change
    # in partition sizing shows here without re-profiling.
    state_partitions: Optional[int]
    state_commit_ms: Optional[int]
    # Checkpoint writes outside the state store: the offsets log
    # (walCommit), and the source's offset fetch, which logs a file
    # source's new files, plus the commit log (latestOffset +
    # commitOffsets).
    wal_ms: Optional[int]
    offsets_ms: Optional[int]
    # The listener is session-wide; the query id keeps one stream's rows.
    query_id: str


@dataclass
class MonitorState:
    metrics: list[BatchMetric] = field(default_factory=list)
    consecutive_empty: int = 0
    alerts: list[str] = field(default_factory=list)


class ProgressMonitor(StreamingQueryListener):
    """Collects per-batch metrics; alerts after ``alert_after``
    consecutive empty batches (the outage analog of metrics.py's
    consecutive-alert threshold)."""

    def __init__(self, alert_after: int = 3):
        self.alert_after = alert_after
        self.state = MonitorState()

    # -- StreamingQueryListener interface -----------------------------
    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        op = p.stateOperators[0] if p.stateOperators else None
        dur = p.durationMs or {}
        offsets = [dur[k] for k in ("latestOffset", "commitOffsets") if k in dur]
        m = BatchMetric(
            batch_id=p.batchId,
            num_input_rows=p.numInputRows,
            process_ms=dur.get("triggerExecution"),
            watermark=(p.eventTime or {}).get("watermark"),
            state_rows=op.numRowsTotal if op else None,
            state_partitions=op.numShufflePartitions if op else None,
            state_commit_ms=op.commitTimeMs if op else None,
            wal_ms=dur.get("walCommit"),
            offsets_ms=sum(offsets) if offsets else None,
            query_id=str(p.id),
        )
        self.state.metrics.append(m)
        if m.num_input_rows == 0:
            self.state.consecutive_empty += 1
            if self.state.consecutive_empty == self.alert_after:
                self.state.alerts.append(
                    f"no input for {self.alert_after} consecutive batches "
                    f"(through batch {m.batch_id})"
                )
        else:
            self.state.consecutive_empty = 0

    def onQueryTerminated(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    # -- summary (metrics.py:169-183 analog) --------------------------
    def summary(self) -> dict:
        ms = self.state.metrics
        n = len(ms)
        rows = sum(m.num_input_rows for m in ms)
        return {
            "n_batches": n,
            "total_rows": rows,
            "avg_batch_ms": (
                sum(m.process_ms or 0 for m in ms) / n if n else None
            ),
            "alerts": list(self.state.alerts),
        }
