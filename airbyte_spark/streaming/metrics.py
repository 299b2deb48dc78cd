"""Per-batch replication metrics (O2 — the reference's MessageTracker /
TRACE estimates, DefaultReplicationWorker.java:442-491).

A StreamingQueryListener collects per-micro-batch progress (rows, rates,
stage durations, state-store metrics) while the engine's durable record
lives in the lake lineage (LakeTable.lineage_df / partition_lineage_df).
The listener is the live-telemetry view; lineage is the committed truth —
same split as the reference's emitted-vs-committed stats.
"""

from __future__ import annotations

import json
import threading
from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class ReplayMetricsListener(StreamingQueryListener):
    """Collects one record per micro-batch; optionally appends JSONL."""

    def __init__(self, jsonl_path: Optional[str] = None):
        self.progress: list[dict] = []
        self._lock = threading.Lock()
        self._path = jsonl_path
        self._terminated = threading.Event()

    # -- StreamingQueryListener interface ---------------------------------
    def onQueryStarted(self, event):
        # a reused listener waits for ITS next query: Spark delivers the
        # started event before ``start()`` returns, so the latch from a
        # previous query is cleared before anyone can wait on this one
        self._terminated.clear()

    def onQueryProgress(self, event):
        p = event.progress
        observed = {}
        try:
            for name, row in (p.observedMetrics or {}).items():
                observed[name] = row.asDict()
        except Exception:
            pass
        rec = {
            "query_id": str(p.id),
            "name": p.name,
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "input_rows_per_second": p.inputRowsPerSecond,
            "process_rows_per_second": p.processedRowsPerSecond,
            "duration_ms": dict(p.durationMs or {}),
            "timestamp": p.timestamp,
            # O8: per-batch df.observe() values (row/byte/cursor estimates)
            "observed": observed,
        }
        with self._lock:
            self.progress.append(rec)
            if self._path:
                with open(self._path, "a") as f:
                    # default=str: observed metrics can carry timestamps /
                    # decimals (cursor high-watermarks) that json can't
                    # natively encode — a listener must never throw
                    f.write(json.dumps(rec, default=str) + "\n")

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self._terminated.set()

    def wait_terminated(self, timeout: float = 30.0) -> bool:
        """Block until a QueryTerminated event reaches this listener (or
        ``timeout`` elapses). The listener bus delivers events to a
        listener IN ORDER, and the terminated event is posted after the
        final progress event — so once this returns True, every
        micro-batch's ``progress`` row (including the last one) is
        visible. Callers that read ``progress`` right after
        ``awaitTermination`` returns MUST wait here first: query
        termination on the driver races the async listener delivery, and
        the row most likely to be missing is the final batch's — exactly
        the one a drift check cares about. The latch re-arms when the next
        query starts, so one listener serves consecutive queries (one at a
        time)."""
        return self._terminated.wait(timeout)

    # -- convenience ------------------------------------------------------
    def totals(self, name: Optional[str] = None) -> dict:
        with self._lock:
            rows = [
                r for r in self.progress if name is None or r["name"] == name
            ]
        return {
            "batches": len(rows),
            "rows": sum(r["num_input_rows"] for r in rows),
        }

    def observed_totals(
        self, metric: str = "replay_feed", name: Optional[str] = None
    ) -> dict:
        """Aggregate the per-batch df.observe() values: counters sum, the
        cursor high-watermark takes the max."""
        with self._lock:
            obs = [
                r["observed"][metric]
                for r in self.progress
                if (name is None or r["name"] == name)
                and metric in r.get("observed", {})
            ]
        out: dict = {"batches_observed": len(obs)}
        for o in obs:
            for k, v in o.items():
                if v is None:
                    continue
                if k.startswith("max_"):
                    out[k] = max(out.get(k, v), v)
                else:
                    out[k] = out.get(k, 0) + v
        return out


def attach(spark: SparkSession, jsonl_path: Optional[str] = None) -> ReplayMetricsListener:
    lst = ReplayMetricsListener(jsonl_path)
    spark.streams.addListener(lst)
    return lst


def detach(spark: SparkSession, lst: ReplayMetricsListener) -> None:
    spark.streams.removeListener(lst)
