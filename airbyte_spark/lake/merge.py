"""MERGE with LSN conflict resolution and commit fencing — one delta write,
folded in the same commit under copy-on-write.

The Spark-first replacement for the reference's incremental SCD chain
(stream_processor.py:892-942 union of new data with re-opened active rows,
plus the post-hook delete stream_processor.py:1192-1258) and for the
destination's committed-state contract (BufferedStreamConsumer.java:178-203):

    MERGE INTO target t USING batch s ON pk
      WHEN MATCHED AND s.lsn > t.__lsn AND s.deleted IS NOT NULL THEN "DELETE"
      WHEN MATCHED AND s.lsn > t.__lsn THEN UPDATE
      WHEN NOT MATCHED AND s.deleted IS NULL THEN INSERT

"DELETE" writes a tombstone (pk, __lsn, __deleted=true) rather than removing
the row, so late lower-LSN events cannot resurrect the key across batches.

Scale shape (the part that must survive 100 TB):
1. The batch is first collapsed to ONE row per key via ``latest_per_key``
   (a ``max_by`` aggregate with map-side partial combine — no window
   sort).
2. One write for both strategies: the collapsed batch is appended as
   per-bucket DELTA files in ONE Spark action, its write. Collapse,
   canonicalize, conform and bucket all run inside it, and the per-bucket
   lineage (rows, LSN high-watermark, deletes) comes from the written
   files' footers plus an Observation on the same write — no persist, no
   stats job. The delta rows are one select whose expressions, like the
   collapse's, are memoized per schema, key and bucket layout
   (``functions/plan_cache.py``): a warm trigger plans in ~100 py4j round
   trips, write included.
3. One resolution rule: the merge-on-read scan's latest-per-key by
   (``__lsn``, −commit) — a strictly newer LSN wins, and on a tie the older
   commit keeps its row. strategy="mor" commits the deltas and leaves them
   to reads and compaction; strategy="cow" folds them at once: compaction's
   rewrite (``LakeTable.fold_buckets``) over the touched buckets of the
   table-plus-deltas view, committed in place of those buckets' old files.
   Only the touched buckets (≤ n_buckets, known from the delta write) are
   read and rewritten, so a batch touching B of N buckets costs O(B/N) of
   the table. The deltas are never committed and are deleted afterwards.
4. Fence + adds/removes + lineage land in ONE atomic commit; a replayed
   batch_id is a no-op BEFORE any compute happens.

Lineage ``rows_in`` counts the batch's rows after the per-key collapse.
Nothing upstream drops cross-batch re-deliveries (the sink is idempotent
on (pk, LSN): fences, the collapse and LSN resolution absorb them), so an
event delivered again in a later batch is counted again there.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.plan_cache import expr_cache, fields_key
from ..operators.dedup import latest_per_key
from .table import (
    LakeTable, META_DELETED, META_LSN, Snapshot, bucket_column, conform_exprs,
    overlay,
)


@dataclass
class MergeStats:
    skipped: bool
    version: Optional[int] = None
    rows_in: int = 0
    touched_buckets: int = 0
    #: set when the merge was STAGED (write-audit-publish) instead of
    #: committed; audit via table.staged_view(staged_id), then
    #: table.publish_staged / table.abort_staged
    staged_id: Optional[str] = None
    #: bucket ids the staged/committed batch touched — the audit scope
    #: (pk-prefix invariants are exact per bucket; see quality.py)
    buckets: Optional[list] = None


def merge_batch(
    table: LakeTable,
    batch: DataFrame,
    order_cols: Sequence[str],
    cursor: str = "_ab_cdc_lsn",
    deleted_col: str = "_ab_cdc_deleted_at",
    app_id: str = "default",
    batch_id: int = 0,
    epoch: Optional[int] = None,
    snap: Optional[Snapshot] = None,
    post_collapse: Optional[Callable[[DataFrame], DataFrame]] = None,
    strategy: str = "cow",
    rows_invalid: Optional[int] = None,
    stage: bool = False,
    commit_empty: bool = True,
) -> MergeStats:
    """strategy:
    * "mor" (merge-on-read) — commit the collapsed batch as per-bucket
      DELTA files; the scan resolves latest-per-key by LSN; compaction
      folds deltas into base. Cost per batch is O(batch) — the LSM-style
      write path that keeps 10^10-event streaming ingest from rewriting
      the table every trigger (Iceberg MOR / Paimon equivalent).
    * "cow" (copy-on-write) — the same delta write, then fold the touched
      buckets in the same commit, so the table never carries deltas and
      scans never pay resolution. Cost per batch is O(touched fraction of
      table) — right when batches are large relative to the table or
      reads dominate (Hudi inline compaction).
    Both are fenced identically; a replayed batch_id is a no-op either way.

    ``stage=True`` STAGES the commit instead of publishing it (write-
    audit-publish): data files are written and the fully-formed commit is
    parked outside the log (``MergeStats.staged_id``); readers see nothing
    until ``table.publish_staged``. Audit gate: ``quality.audited_merge_batch``.
    """
    snap = snap or table.snapshot()
    last = snap.fences.get(app_id)
    if last is not None and batch_id <= last:
        return MergeStats(skipped=True)  # fenced: already committed

    pk = snap.primary_key
    cow = strategy != "mor"

    # 1. collapse the (at-least-once, possibly duplicated) batch to the
    #    winning event per key — D1-D3 in one aggregate. Per-row
    #    transforms (text canonicalization, enrichment) run AFTER the
    #    collapse via post_collapse: |keys| rows instead of |events|.
    src = latest_per_key(batch, pk, order_cols)
    if post_collapse is not None:
        src = post_collapse(src)
    # the fold rewrites COW deltas right away: no point-lookup bloom for them
    written = _write_mor(
        table, replace(snap, bloom_bits=0) if cow else snap, src, cursor,
        deleted_col,
    )

    if written is None:
        if not commit_empty:
            # idle-tail policy: BEFORE the staged branch too — an audited
            # sync would otherwise stage+publish one empty commit per
            # quiet-hour trigger, exactly the O(commits) growth this flag
            # exists to prevent
            return MergeStats(skipped=False, version=None, rows_in=0, buckets=[])
        # commit_empty=True (default): per-batch lineage accounting is
        # itself a feature (O2) and bounded-sync tests rely on it
        written = [], {}, 0
    deltas, per_bucket, rows_upserted = written
    rows_in = sum(v["rows"] for v in per_bucket.values())
    # rows with a null/uncastable cursor (snapshot / full-refresh records
    # without CDC metadata) yield max_lsn=None for their bucket — they
    # must not crash the merge, and the high-watermark ignores them
    _lsns = [v["max_lsn"] for v in per_bucket.values() if v["max_lsn"] is not None]
    lineage = _lineage(
        app_id, batch_id, rows_in, rows_upserted,
        sum(v["deletes"] for v in per_bucket.values()),
        max(_lsns) if _lsns else None, epoch, rows_invalid,
    )
    if per_bucket:
        lineage["partitions"] = per_bucket
    buckets = sorted(per_bucket)
    adds, removes = deltas, []
    try:
        if cow and deltas:
            # 2. fold the touched buckets of table + deltas into base
            #    files, committed in place of the buckets' old files
            adds, lineage["rows_upserted"] = table.fold_buckets(
                overlay(snap, deltas), buckets
            )
            removes = [
                p for p, m in snap.files.items() if m["bucket"] in per_bucket
            ]
        if stage:
            sid = table.stage_commit(
                snap, adds, removes, fence=(app_id, batch_id), lineage=lineage,
                op="merge",
            )
            return MergeStats(
                skipped=False, rows_in=rows_in, touched_buckets=len(buckets),
                staged_id=sid, buckets=buckets,
            )
        version = table.commit(
            snap, adds, removes, fence=(app_id, batch_id), lineage=lineage,
            op="merge",
            # a COW rewrite resolved against the buckets it read: it may
            # not be rebased onto a concurrent commit; appends (MOR,
            # empty) may
            retry_conflicts=0 if cow and deltas else 2,
        )
    finally:
        if cow:
            # the COW deltas were only the fold's input: no commit
            # references them, whether or not the commit landed
            table.discard_write(deltas)
    return MergeStats(
        skipped=False, version=version, rows_in=rows_in,
        touched_buckets=len(buckets), buckets=buckets,
    )


def _write_mor(
    table: LakeTable, snap: Snapshot, src: DataFrame, cursor: str,
    deleted_col: str,
):
    """LSM write path: ONE Spark action, the write. The collapsed batch is
    conformed to the table schema, given its LSN, delete flag and bucket in
    one select, and appended as per-bucket delta files — no target read,
    no persist, no stats job. Per-bucket rows and LSN high-watermarks come
    from the footers of the files just written (one file per bucket);
    per-bucket delete counts from an Observation riding the same write."""
    have = set(src.columns)
    rows = src.select(*_delta_exprs(
        fields_key(snap.schema),
        tuple(f.name for f in snap.schema.fields if f.name in have),
        cursor, deleted_col, tuple(snap.bucket_cols), snap.n_buckets,
    ))
    deleted = Observation()
    adds, total = table.write_data_files(
        snap,
        rows,
        # the touched buckets are unknown until written: n_buckets bounds
        # them, and the write's task count is min(that, cores) anyway
        touched_buckets=snap.n_buckets,
        kind="delta",
        observe=(deleted, _deleted_buckets()),
    )
    if total == 0:
        return None
    per_bucket = bucket_lineage(adds)
    for b in deleted.get["b"]:
        per_bucket[int(b)]["deletes"] += 1
    return adds, per_bucket, total


@expr_cache
def _delta_exprs(
    fields: tuple, present: tuple[str, ...], cursor: str, deleted_col: str,
    bucket_cols: tuple[str, ...], n_buckets: int,
) -> tuple:
    """A delta file's select list over the collapsed batch: the conformed
    payload, ``__lsn``, ``__deleted`` and the bucket ``_b``."""
    return (
        *conform_exprs(fields, present),
        F.col(cursor).cast("long").alias(META_LSN),
        F.col(deleted_col).isNotNull().alias(META_DELETED),
        bucket_column(bucket_cols, n_buckets).alias("_b"),
    )


@expr_cache
def _deleted_buckets():
    """The Observation aggregate: the bucket of every tombstone written."""
    return F.collect_list(F.when(F.col(META_DELETED), F.col("_b"))).alias("b")


def bucket_lineage(adds: list[dict]) -> dict[int, dict]:
    """Per-bucket lineage ``{rows, max_lsn, deletes: 0}`` of one write,
    from its add-entries: the footer row counts and ``__lsn`` bounds that
    ``write_data_files`` records per file."""
    out: dict[int, dict] = {}
    for ad in adds:
        v = out.setdefault(ad["bucket"], {"rows": 0, "max_lsn": None, "deletes": 0})
        v["rows"] += ad["rows"]
        if ad["max_lsn"] is not None and (
            v["max_lsn"] is None or ad["max_lsn"] > v["max_lsn"]
        ):
            v["max_lsn"] = ad["max_lsn"]
    return out


def _lineage(
    app_id, batch_id, rows_in, rows_upserted, rows_deleted, max_lsn, epoch,
    rows_invalid=None,
):
    return {
        "app_id": app_id,
        "batch_id": batch_id,
        "rows_in": rows_in,
        "rows_upserted": rows_upserted,
        "rows_deleted": rows_deleted,
        "max_lsn": max_lsn,
        "epoch": epoch,
        # P2 validation accounting: malformed source records this batch
        # (counted by sources.validation, quarantined upstream)
        "rows_invalid": rows_invalid,
    }
