"""Copy-on-write MERGE with LSN conflict resolution and commit fencing.

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
   (hash agg with map-side combine — no window sort).
2. Touched buckets are computed from the batch keys (≤ n_buckets values);
   only those buckets' files are read and rewritten. A micro-batch touching
   B of N buckets costs O(B/N) of the table, not O(table).
3. The join runs target-LEFT-OUTER-batch? No — full outer on pk, but only
   over touched buckets; AQE turns it into a broadcast join whenever the
   deduped batch is small (the common CDC case). Skewed conv_ids are immune
   here because the join/agg key is the full (conv_id, turn_idx) pk, and
   AQE skew-join handles residual imbalance.
4. Fence + adds/removes + lineage land in ONE atomic commit; a replayed
   batch_id is a no-op BEFORE any compute happens.
5. A merge-on-read batch is ONE Spark action, its write: collapse,
   canonicalize, conform and bucket all run inside it, and the per-bucket
   lineage (rows, LSN high-watermark, deletes) comes from the written
   files' footers plus an Observation on the same write — no persist, no
   stats job. Only the COW path runs a stats job first: it must know the
   touched buckets before it reads the target.

Lineage ``rows_in`` counts the batch's rows after the per-key collapse.
Nothing upstream drops cross-batch re-deliveries (the sink is idempotent
on (pk, LSN): fences, the collapse and LSN resolution absorb them), so an
event delivered again in a later batch is counted again there.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.dedup import latest_per_key
from .table import LakeTable, META_DELETED, META_LSN, Snapshot


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
    * "cow" (copy-on-write) — read + full-outer-resolve + rewrite the
      touched buckets. Read-optimized: scans never pay resolution. Cost
      per batch is O(touched fraction of table) — right when batches are
      large relative to the table or reads dominate.
    * "mor" (merge-on-read) — append the collapsed batch as per-bucket
      DELTA files; the scan resolves latest-per-key by LSN; compaction
      folds deltas into base. Cost per batch is O(batch) — the LSM-style
      write path that keeps 10^10-event streaming ingest from rewriting
      the table every trigger (Iceberg MOR / Paimon equivalent).
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

    # 1. collapse the (at-least-once, possibly duplicated) batch to the
    #    winning event per key — D1-D3 in one hash aggregate. Expensive
    #    per-row transforms (pandas-UDF canonicalization) run AFTER the
    #    collapse via post_collapse: |keys| rows instead of |events|.
    src = latest_per_key(batch, pk, order_cols)
    if post_collapse is not None:
        src = post_collapse(src)
    # conform to the table schema ONCE for both strategies: a just-evolved
    # table's feed may not carry the new column yet — the COW path below
    # references s.<col> for every schema field and would otherwise die
    # with UNRESOLVED_COLUMN (the MOR conform also casts, kept as-is)
    missing = [fs for fs in snap.schema.fields if fs.name not in src.columns]
    if missing:
        src = src.select(
            "*", *[F.lit(None).cast(fs.dtype).alias(fs.name) for fs in missing]
        )
    src = src.withColumn(META_LSN, F.col(cursor).cast("long")).withColumn(
        "_src_deleted", F.col(deleted_col).isNotNull()
    )
    src = src.withColumn("_b", table.bucket_expr(snap))
    if strategy == "mor":
        written = _write_mor(table, snap, src)
    else:
        written = _write_cow(table, snap, src)

    if written is None:
        if not commit_empty:
            # idle-tail policy: BEFORE the staged branch too — an audited
            # sync would otherwise stage+publish one empty commit per
            # quiet-hour trigger, exactly the O(commits) growth this flag
            # exists to prevent
            return MergeStats(skipped=False, version=None, rows_in=0, buckets=[])
        # commit_empty=True (default): per-batch lineage accounting is
        # itself a feature (O2) and bounded-sync tests rely on it
        adds, removes, per_bucket, rows_in = [], [], {}, 0
        lineage = _lineage(app_id, batch_id, 0, 0, 0, None, epoch, rows_invalid)
    else:
        adds, removes, per_bucket, rows_upserted = written
        rows_in = sum(v["rows"] for v in per_bucket.values())
        # rows with a null/uncastable cursor (snapshot / full-refresh
        # records without CDC metadata) yield max_lsn=None for their
        # bucket — they must not crash the merge, and the high-watermark
        # ignores them
        _lsns = [v["max_lsn"] for v in per_bucket.values() if v["max_lsn"] is not None]
        lineage = _lineage(
            app_id, batch_id, rows_in, rows_upserted,
            sum(v["deletes"] for v in per_bucket.values()),
            max(_lsns) if _lsns else None, epoch, rows_invalid,
        )
        lineage["partitions"] = per_bucket
    buckets = sorted(per_bucket)
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
        # a COW rewrite resolved against the buckets it read: it may not be
        # rebased onto a concurrent commit; appends (MOR, empty) may
        retry_conflicts=2 if strategy == "mor" or written is None else 0,
    )
    return MergeStats(
        skipped=False, version=version, rows_in=rows_in,
        touched_buckets=len(buckets), buckets=buckets,
    )


def _write_mor(table: LakeTable, snap: Snapshot, src: DataFrame):
    """LSM write path: ONE Spark action, the write. The collapsed batch is
    conformed to the table schema and appended as per-bucket delta files
    — no target read, no persist, no stats job. Per-bucket rows and LSN
    high-watermarks come from the footers of the files just written (one
    file per bucket); per-bucket delete counts from an Observation riding
    the same write."""
    schema_cols = []
    for fs in snap.schema.fields:
        if fs.name in src.columns:
            schema_cols.append(F.col(fs.name).cast(fs.dtype).alias(fs.name))
        else:
            schema_cols.append(F.lit(None).cast(fs.dtype).alias(fs.name))
    rows = src.select(
        *schema_cols,
        F.col(META_LSN),
        F.col("_src_deleted").alias(META_DELETED),
        F.col("_b"),
    )
    deleted = Observation()
    adds, total = table.write_data_files(
        snap,
        rows,
        # the touched buckets are unknown until written: n_buckets bounds
        # them, and the write's task count is min(that, cores) anyway
        touched_buckets=snap.n_buckets,
        kind="delta",
        observe=(
            deleted,
            F.collect_list(F.when(F.col(META_DELETED), F.col("_b"))).alias("b"),
        ),
    )
    if total == 0:
        return None
    per_bucket = bucket_lineage(adds)
    for b in deleted.get["b"]:
        per_bucket[int(b)]["deletes"] += 1
    return adds, [], per_bucket, total


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


def _write_cow(table: LakeTable, snap: Snapshot, src: DataFrame):
    """Read + full-outer-resolve + rewrite the touched buckets. The
    touched buckets must be known BEFORE the target read, so the collapsed
    batch is persisted and one stats job yields them."""
    pk = snap.primary_key
    src = src.persist()
    try:
        # ONE stats job materializes the persist AND yields rows_in, the
        # touched-bucket list, the LSN high-watermark, and delete counts —
        # per bucket (the per-partition lineage the engine persists).
        stats_rows = (
            src.groupBy("_b")
            .agg(
                F.count("*").alias("n"),
                F.max(META_LSN).alias("mx"),
                F.sum(F.col("_src_deleted").cast("long")).alias("nd"),
            )
            .collect()
        )
        if not stats_rows:
            return None
        per_bucket = {
            int(r["_b"]): {"rows": r["n"], "max_lsn": r["mx"], "deletes": r["nd"]}
            for r in stats_rows
        }

        # 2. bucket pruning
        touched = list(per_bucket)
        touched_set = set(touched)
        old_files = [
            p for p, m in snap.files.items() if m["bucket"] in touched_set
        ]
        target = table.read(
            buckets=touched, include_meta=True, include_deleted=True, snap=snap
        ).withColumn("_b", table.bucket_expr(snap))

        # 3. resolve: full outer on pk, source wins iff strictly newer LSN
        payload = [f.name for f in snap.schema.fields if f.name not in pk]
        t = target.alias("t")
        s = src.alias("s")
        joined = t.join(s, on=pk, how="full_outer")
        use_src = F.col(f"t.{META_LSN}").isNull() | (
            F.col(f"s.{META_LSN}").isNotNull()
            & (F.col(f"s.{META_LSN}") > F.col(f"t.{META_LSN}"))
        )
        out_cols = [F.col(c) for c in pk]
        for c in payload:
            out_cols.append(
                F.when(use_src, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            )
        out_cols.append(
            F.when(use_src, F.col(f"s.{META_LSN}"))
            .otherwise(F.col(f"t.{META_LSN}"))
            .alias(META_LSN)
        )
        out_cols.append(
            F.when(use_src, F.col("s._src_deleted"))
            .otherwise(F.col(f"t.{META_DELETED}"))
            .alias(META_DELETED)
        )
        out_cols.append(F.coalesce(F.col("t._b"), F.col("s._b")).alias("_b"))
        result = joined.select(*out_cols)

        # 4. rewrite touched buckets + atomic fenced commit (per-file row
        # counts from the footers the write already reads)
        adds, total = table.write_data_files(
            snap, result, touched_buckets=len(touched)
        )
        return adds, old_files, per_bucket, total
    finally:
        src.unpersist()


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
