"""Spans and per-layer counters for the traced benchmark run.

Everything here lives in the benchmark: the program under test is never
edited. Timing wrappers are installed on the attribute the *caller* looks
up (``airbyte_spark.streaming.runner.merge_batch``, not only
``airbyte_spark.lake.merge.merge_batch``; ``LakeTable`` methods on the
class), and are removed again by ``Tracer.uninstall``.

A span is ``{name, start, end, parent, run_id, attrs}``; times are epoch
seconds so they line up with the trigger timestamps Spark's
``StreamingQueryListener`` reports. Span names are ``<layer>.<call>``; a
layer's self time is its spans' durations minus the part of each covered
by direct child spans.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from typing import Callable, Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


class Tracer:
    """Collects spans in memory. ``enabled`` is toggled per operation so a
    traced run can interleave traced and untraced operations and report
    the tracing overhead from the difference."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        #: when set, ``gate(batch_id)`` decides at each merge_batch call
        #: whether that streaming trigger is traced
        self.gate: Optional[Callable[[int], bool]] = None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "run_id": self.run_id,
            "attrs": attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield attrs
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add_span(self, name: str, start: float, end: float, parent=None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a Spark trigger)."""
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "run_id": self.run_id, "attrs": attrs}
            )
        return sid

    def wrap(self, owner, attr: str, name: str, after: Optional[Callable] = None):
        """Replace ``owner.attr`` with a timing wrapper. ``after(attrs,
        args, kwargs, result)`` may add counters to the span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name) as attrs:
                result = orig(*args, **kwargs)
            # counters are taken after the span closes, so their cost is
            # not timed as the call's
            if after is not None:
                after(attrs, args, kwargs, result)
            return result

        wrapper.__wrapped__ = orig
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def _local_path(path: str) -> str:
    """Absolute local path of a file path or a ``file:`` URI."""
    if path.startswith("file:"):
        path = urllib.parse.unquote(urllib.parse.urlparse(path).path)
    return os.path.abspath(path)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer (span-name prefix) not covered by direct children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out


def install_layer_wrappers(tracer: Tracer, spark) -> None:
    """Wrap the public layer calls the workloads reach, on the names their
    callers look up."""
    import airbyte_spark.lake.merge as merge_mod
    import airbyte_spark.operators.dedup as dedup_mod
    import airbyte_spark.plans.replay as replay_mod
    import airbyte_spark.streaming.runner as runner_mod
    from airbyte_spark.lake.table import LakeTable

    sc = spark.sparkContext

    # merge_batch runs inside foreachBatch, whose jobs carry the streaming
    # query's job group: count the jobs the call launched in that group
    merge_orig = runner_mod.merge_batch

    def merge_batch(*args, **kwargs):
        if tracer.gate is not None:
            tracer.enabled = tracer.gate(kwargs.get("batch_id", 0))
        if not tracer.enabled:
            return merge_orig(*args, **kwargs)
        group = sc.getLocalProperty("spark.jobGroup.id")
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        with tracer.span("merge.merge_batch") as attrs:
            stats = merge_orig(*args, **kwargs)
            attrs["rows_in"] = stats.rows_in
            attrs["touched_buckets"] = stats.touched_buckets
        attrs["spark_jobs"] = len(
            set(sc.statusTracker().getJobIdsForGroup(group)) - before
        )
        return stats

    tracer.patch(runner_mod, "merge_batch", merge_batch)

    tracer.wrap(replay_mod, "latest_per_key", "dedup.latest_per_key")
    tracer.wrap(merge_mod, "latest_per_key", "dedup.latest_per_key")
    # LakeTable.read / read_incremental import latest_per_key at call time
    # from the operators module
    tracer.wrap(dedup_mod, "latest_per_key", "dedup.latest_per_key")

    def snapshot_after(attrs, args, kwargs, snap):
        attrs["log_reads"] = args[0].last_snapshot_log_reads

    def commit_after(attrs, args, kwargs, version):
        attrs["op"] = kwargs.get("op", "merge")
        removes = args[3] if len(args) > 3 else kwargs.get("removes", [])
        attrs["removes"] = len(removes)

    def read_after(attrs, args, kwargs, df):
        # what the scan really reads: the files of the DataFrame read()
        # returned, matched against the snapshot it read (read() just took
        # it, so the unwrapped call is a cache hit). The benchmark's reads
        # pass no bucket filter, so a file left out was skipped by the LSN
        # cursor.
        table = args[0]
        snap = kwargs.get("snap") or LakeTable.snapshot.__wrapped__(table)
        scanned = {_local_path(u) for u in df.inputFiles()}
        n_delta = n_skipped = 0
        for path, meta in snap.files.items():
            if _local_path(os.path.join(table.path, path)) not in scanned:
                n_skipped += 1
            elif meta.get("kind", "base") == "delta":
                n_delta += 1
        attrs["delta_files"] = n_delta
        attrs["files_skipped_by_lsn"] = n_skipped

    def lookup_plan_after(attrs, args, kwargs, plan):
        attrs["files"] = len(plan["files"])
        attrs["total_files"] = plan["total_files"]

    tracer.wrap(LakeTable, "snapshot", "table.snapshot", snapshot_after)
    tracer.wrap(LakeTable, "commit", "table.commit", commit_after)
    tracer.wrap(LakeTable, "write_data_files", "table.write_data_files")
    tracer.wrap(LakeTable, "compact", "table.compact")
    tracer.wrap(LakeTable, "vacuum", "table.vacuum")
    tracer.wrap(LakeTable, "read", "table.read", read_after)
    tracer.wrap(LakeTable, "read_incremental", "table.read_incremental")
    tracer.wrap(LakeTable, "plan_point_lookup", "table.plan_point_lookup", lookup_plan_after)
    tracer.wrap(LakeTable, "point_lookup", "table.point_lookup")

    # canonicalize_udf is looked up in plans.replay by prepare_changes when
    # it builds a plan (each batch replay, each streaming trigger's merge).
    # Plans built while tracing is on get a UDF that runs the same
    # canonicalize_pandas on the workers and adds its busy seconds and row
    # count to accumulators read back per operation; untraced plans keep
    # the program's own UDF.
    from airbyte_spark.functions.text import canonicalize_pandas

    secs = sc.accumulator(0.0)
    rows = sc.accumulator(0)

    @F.pandas_udf(StringType())
    def canonicalize_traced(s: pd.Series) -> pd.Series:
        t0 = time.perf_counter()
        out = canonicalize_pandas(s)
        secs.add(time.perf_counter() - t0)
        rows.add(len(s))
        return out

    canonicalize_orig = replay_mod.canonicalize_udf

    def canonicalize_udf(col):
        return (canonicalize_traced if tracer.enabled else canonicalize_orig)(col)

    tracer.patch(replay_mod, "canonicalize_udf", canonicalize_udf)
    tracer.udf_seconds = secs
    tracer.udf_rows = rows


class ExecutorTotals:
    """Task time, GC time and shuffle bytes summed over executors, from the
    Spark UI's REST API (``/api/v1/applications/<id>/executors``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/executors"
        self.cores = sc.defaultParallelism

    def read(self) -> dict:
        with urllib.request.urlopen(self.url, timeout=10) as r:
            execs = json.load(r)
        return {
            "task_ms": sum(e.get("totalDuration", 0) for e in execs),
            "gc_ms": sum(e.get("totalGCTime", 0) for e in execs),
            "shuffle_write_bytes": sum(e.get("totalShuffleWrite", 0) for e in execs),
        }
