"""Incremental SCD Type-2 history maintenance — the streaming ``<stream>_scd``
table (D2/D6 in streaming form).

The reference maintains the SCD table incrementally: each run unions the
new data with the re-opened rows of affected keys and re-runs the dedup/
window CTE over that union (stream_processor.py:892-942), so history rows
get their ``_airbyte_end_at`` closed and ``_airbyte_active_row`` moved
without rewriting unaffected keys. This module is the Spark-first
equivalent, with TWO write strategies mirroring the main table's:

**strategy="cow"** per micro-batch (fenced, same contract as
``merge_batch``):
1. collapse the at-least-once batch to distinct (pk, cursor) versions
   (``salted_scd2_input`` — hash agg, map-side combine);
2. compute the touched buckets from the batch keys (≤ n_buckets);
3. read ONLY those buckets' existing history rows, union with the new
   versions, drop cross-batch duplicate versions;
4. re-run the SCD2 window over the union (bounded to touched buckets)
   and rewrite those buckets in one fenced commit.
Right when batches are large relative to history, but history only
GROWS: at 10^10 events a touched bucket holds ~10^8 version rows,
rewritten by every batch that grazes it — write amplification.

**strategy="mor"** (the 10^10-event streaming path): version rows are
IMMUTABLE — only the derived columns (``_airbyte_end_at``,
``_airbyte_active_row``) of a key's previous head change when a new
version arrives, and both are pure functions of the key's version set
(the next-version lag). So the batch's collapsed versions are APPENDED
as per-bucket delta files (O(batch) per trigger, no history read at
all, one Spark action: the write, its per-bucket lineage read from the
written footers) with the derived columns left NULL; ``read_scd``
re-derives them from the lag at scan time, and ``scd_compact``
materializes them back into base files (exactly the LSM treatment
``LakeTable`` gives the SCD1 table: merge.py strategy="mor" +
table.compact). NOTE: an SCD table
carrying deltas must be folded with ``scd_compact`` (which re-windows),
never plain ``LakeTable.compact`` (which would materialize the NULL
derived columns as-is).

Either way the result is byte-equal to running batch ``scd2()`` over the
whole feed (tests assert exceptAll == 0 both ways, including the
late-event fixture: a late lower-LSN version lands as a CLOSED history
row — it cannot become active, matching the reference's ordering
semantics).

The SCD table is a second LakeTable next to the SCD1 latest-state table;
each table carries its own fence for the same (app_id, batch_id), so a
crash between the two commits re-delivers the batch and whichever table
already committed skips it (exactly-once per table).

Schema evolution: the history table evolves like any LakeTable — apply the
same catalog diff via ``LakeTable.evolve`` on BOTH tables (the conform step
here null-pads rows written before the evolve, identical to the main
table's star_intersect behavior).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import TableSchema
from ..operators.dedup import scd2, scd2_bounded, surrogate_key_expr
from ..operators.skew import salted_scd2_input
from .merge import bucket_lineage
from .table import LakeTable, META_DELETED, META_LSN, Snapshot

#: columns computed by the SCD window — everything else is carried state
SCD_OUT_COLS = [
    "_airbyte_unique_key",
    "_airbyte_start_at",
    "_airbyte_end_at",
    "_airbyte_active_row",
]


def scd_struct(change_struct: T.StructType) -> T.StructType:
    """History-table schema: every change-feed column (each version row
    keeps its CDC metadata so the window can re-run) + the SCD columns."""
    return T.StructType(
        list(change_struct.fields)
        + [
            T.StructField("_airbyte_unique_key", T.StringType(), True),
            T.StructField("_airbyte_start_at", T.LongType(), True),
            T.StructField("_airbyte_end_at", T.LongType(), True),
            T.StructField("_airbyte_active_row", T.IntegerType(), True),
        ]
    )


def bootstrap_scd_table(
    spark: SparkSession,
    path: str,
    change_struct: T.StructType,
    pk: Sequence[str],
    cursor: str = "_ab_cdc_lsn",
    bucket_cols: Optional[Sequence[str]] = None,
    n_buckets: int = 32,
) -> LakeTable:
    """Create (or open) the ``<stream>_scd`` table: one row per (pk,
    cursor) version, bucketed like the main table so both upserts prune
    the same way."""
    if LakeTable.exists(path):
        return LakeTable(spark, path)
    return LakeTable.create(
        spark,
        path,
        TableSchema.from_struct(scd_struct(change_struct)),
        primary_key=[*pk, cursor],
        bucket_cols=list(bucket_cols or pk[:1]),
        n_buckets=n_buckets,
    )


@dataclass
class ScdMergeStats:
    skipped: bool
    version: Optional[int] = None
    rows_in: int = 0
    touched_buckets: int = 0


def scd_merge_batch(
    table: LakeTable,
    batch: DataFrame,
    pk: Sequence[str],
    cursor: str = "_ab_cdc_lsn",
    app_id: str = "default",
    batch_id: int = 0,
    epoch: Optional[int] = None,
    post_dedup=None,
    bounded: bool = False,
    strategy: str = "cow",
    commit_empty: bool = True,
) -> ScdMergeStats:
    """Apply one micro-batch to the SCD history table (fenced).

    ``post_dedup`` runs expensive per-row transforms (pandas-UDF
    canonicalization) AFTER the version collapse — |versions| rows, not
    |events| — and only on NEW rows (existing history was canonicalized
    when first written). ``bounded=True`` swaps the window for
    ``scd2_bounded`` (range-bucketed sorts) when single keys accumulate
    unbounded version counts. ``strategy="mor"`` appends the collapsed
    versions as delta files with NULL derived columns — O(batch) per
    trigger, no history read; resolve with ``read_scd`` / fold with
    ``scd_compact`` (see module docstring)."""
    snap = table.snapshot()
    last = snap.fences.get(app_id)
    if last is not None and batch_id <= last:
        return ScdMergeStats(skipped=True)

    new = salted_scd2_input(batch, pk, cursor)
    if post_dedup is not None:
        new = post_dedup(new)
    new = new.withColumn("_b", table.bucket_expr(snap))
    if strategy == "mor":
        return _scd_append_mor(
            table, snap, new, pk, cursor, app_id, batch_id, epoch, commit_empty
        )
    new = new.persist()
    try:
        stats_rows = (
            new.groupBy("_b")
            .agg(F.count("*").alias("n"), F.max(F.col(cursor).cast("long")).alias("mx"))
            .collect()
        )
        if not stats_rows:
            return _scd_commit_empty(table, snap, app_id, batch_id, epoch, commit_empty)
        per_bucket = {
            int(r["_b"]): {"rows": r["n"], "max_lsn": r["mx"], "deletes": 0}
            for r in stats_rows
        }
        touched = list(per_bucket)
        lineage = _scd_lineage(app_id, batch_id, per_bucket, epoch)

        old_files = [p for p, m in snap.files.items() if m["bucket"] in set(touched)]

        # carried state for touched buckets only: strip the SCD columns,
        # they are recomputed over the union
        existing = table.read(
            buckets=touched, include_meta=False, include_deleted=True, snap=snap
        ).drop(*SCD_OUT_COLS)
        core_cols = existing.columns
        dtypes = {f.name: f.dtype for f in snap.schema.fields}
        # null-pad schema columns the batch lacks (a just-evolved table's
        # feed may not carry the new column yet) — same conform the MOR
        # branch and merge_batch apply; a bare select would raise
        batch_sel = [
            (F.col(c) if c in new.columns else F.lit(None))
            .cast(dtypes[c]).alias(c)
            for c in core_cols
        ]
        # cross-batch re-delivery of an already-written version collapses
        # with the SAME deterministic winner rule as the intra-batch
        # collapse, so streaming and batch builds stay byte-equal even when
        # duplicate copies differ in delivery metadata
        unioned = salted_scd2_input(
            existing.unionByName(new.select(*batch_sel)), pk, cursor
        )
        window = scd2_bounded if bounded else scd2
        hist = window(unioned, pk, cursor)

        schema_cols = []
        for fs in snap.schema.fields:
            if fs.name in hist.columns:
                schema_cols.append(F.col(fs.name).cast(fs.dtype).alias(fs.name))
            else:
                schema_cols.append(F.lit(None).cast(fs.dtype).alias(fs.name))
        rows = hist.select(
            *schema_cols,
            F.col(cursor).cast("long").alias(META_LSN),
            F.lit(False).alias(META_DELETED),
        ).withColumn("_b", table.bucket_expr(snap))

        adds, total = table.write_data_files(
            snap, rows, touched_buckets=len(touched)
        )
        lineage["rows_upserted"] = total
        version = table.commit(
            snap, adds, old_files, fence=(app_id, batch_id), lineage=lineage,
            op="scd_merge",
        )
        return ScdMergeStats(
            skipped=False, version=version, rows_in=lineage["rows_in"],
            touched_buckets=len(touched),
        )
    finally:
        new.unpersist()


def _scd_append_mor(
    table: LakeTable,
    snap: Snapshot,
    new: DataFrame,
    pk: Sequence[str],
    cursor: str,
    app_id: str,
    batch_id: int,
    epoch: Optional[int],
    commit_empty: bool,
) -> ScdMergeStats:
    """LSM write path, ONE Spark action: append the immutable version rows
    as delta files; the two derived columns stay NULL until read/compaction
    re-derives them from the next-version lag. Per-bucket rows and cursor
    high-watermarks come from the written files' footers (``__lsn`` is the
    cursor); history rows are never deletes."""
    uk = surrogate_key_expr(pk)
    schema_cols = []
    for fs in snap.schema.fields:
        if fs.name == "_airbyte_unique_key":
            schema_cols.append(uk.cast(fs.dtype).alias(fs.name))
        elif fs.name == "_airbyte_start_at":
            schema_cols.append(F.col(cursor).cast(fs.dtype).alias(fs.name))
        elif fs.name in ("_airbyte_end_at", "_airbyte_active_row"):
            schema_cols.append(F.lit(None).cast(fs.dtype).alias(fs.name))
        elif fs.name in new.columns:
            schema_cols.append(F.col(fs.name).cast(fs.dtype).alias(fs.name))
        else:
            schema_cols.append(F.lit(None).cast(fs.dtype).alias(fs.name))
    rows = new.select(
        *schema_cols,
        F.col(cursor).cast("long").alias(META_LSN),
        F.lit(False).alias(META_DELETED),
        F.col("_b"),
    )
    adds, total = table.write_data_files(
        snap, rows, touched_buckets=snap.n_buckets, kind="delta"
    )
    if total == 0:
        return _scd_commit_empty(table, snap, app_id, batch_id, epoch, commit_empty)
    lineage = _scd_lineage(app_id, batch_id, bucket_lineage(adds), epoch)
    version = table.commit(
        snap, adds, [], fence=(app_id, batch_id), lineage=lineage,
        op="scd_merge", retry_conflicts=2,
    )
    return ScdMergeStats(
        skipped=False, version=version, rows_in=total,
        touched_buckets=len(lineage["partitions"]),
    )


def _scd_commit_empty(
    table: LakeTable,
    snap: Snapshot,
    app_id: str,
    batch_id: int,
    epoch: Optional[int],
    commit_empty: bool,
) -> ScdMergeStats:
    if not commit_empty:
        # idle-tail policy (same contract as merge_batch): leave no
        # commit — the fence needn't advance for a zero-row trigger
        return ScdMergeStats(skipped=False, version=None, rows_in=0)
    version = table.commit(
        snap, [], [], fence=(app_id, batch_id),
        lineage=_scd_lineage(app_id, batch_id, {}, epoch),
        op="scd_merge", retry_conflicts=2,
    )
    return ScdMergeStats(skipped=False, version=version, rows_in=0)


def _resolved_history(
    snap: Snapshot,
    raw: DataFrame,
    bounded: bool,
) -> DataFrame:
    """Collapse duplicate version rows and re-derive the SCD columns from
    the next-version lag — the merge-on-read resolution.

    The collapse is the SAME deterministic rule as the write path
    (``salted_scd2_input``: max-(updated, emitted) copy wins), so a version
    re-delivered across micro-batches — two delta rows with the same
    (pk, cursor) but different delivery metadata — resolves to exactly the
    row the batch build would keep, keeping MOR byte-equal to batch
    ``scd2()`` over the whole feed."""
    pk = snap.primary_key[:-1]
    cursor = snap.primary_key[-1]
    versions = salted_scd2_input(raw.drop(*SCD_OUT_COLS), pk, cursor)
    window = scd2_bounded if bounded else scd2
    hist = window(versions, pk, cursor)
    return hist.select(
        *[F.col(fs.name).cast(fs.dtype).alias(fs.name) for fs in snap.schema.fields]
    )


def read_scd(
    table: LakeTable,
    bounded: bool = False,
    at_version: Optional[int] = None,
) -> DataFrame:
    """Resolved scan of an SCD history table — bucket-pruned hybrid.
    ``at_version`` time-travels the resolution to a historical COMMIT
    (``read_scd_asof`` answers the business-cursor question instead).

    With no delta files (pure COW history, or right after ``scd_compact``)
    this is a plain columnar scan — the derived columns are materialized
    and exact. With deltas present, ONLY the buckets holding delta files
    pay the merge-on-read resolution (collapse + next-version-lag window);
    every clean bucket is served by the plain materialized scan and the
    two halves are unioned. Per-bucket resolution is exact because all of
    a key's versions hash to its bucket (the table is bucketed on the pk
    prefix), so no window can ever need rows from two buckets — the same
    invariant ``scd_compact`` relies on. At 10^10 events this turns the
    resolved read from O(table) shuffle+window into O(delta buckets):
    reads stay pruned, writes stay O(batch)."""
    snap = table.snapshot(at_version=at_version)
    all_buckets: set[int] = set()
    delta_buckets: set[int] = set()
    for meta in snap.files.values():
        all_buckets.add(meta["bucket"])
        if meta.get("kind", "base") == "delta":
            delta_buckets.add(meta["bucket"])
    if not delta_buckets:
        return table.read(snap=snap)
    raw = table.read(buckets=sorted(delta_buckets), snap=snap, resolve=False)
    resolved = _resolved_history(snap, raw, bounded)
    clean = sorted(all_buckets - delta_buckets)
    if not clean:
        return resolved
    return table.read(buckets=clean, snap=snap).unionByName(resolved)


def read_scd_asof(
    table: LakeTable,
    at_cursor,
    bounded: bool = False,
    deleted_col: str = "_ab_cdc_deleted_at",
) -> DataFrame:
    """Point-in-time table state by BUSINESS cursor — each key's version
    active at ``at_cursor`` (``snapshot(at_version=...)`` answers the
    commit-time question; this answers "what did the table say the world
    looked like at cursor C"). Interval filter over the resolved history
    (``[start, end)``, NULL end = active); versions that are DELETE
    tombstones are excluded — the key was absent at that cursor. Stays a
    bucket-pruned hybrid scan + one filter: no join or window beyond what
    ``read_scd`` already costs."""
    h = read_scd(table, bounded=bounded)
    out = h.filter(
        (F.col("_airbyte_start_at") <= F.lit(at_cursor))
        & (
            F.col("_airbyte_end_at").isNull()
            | (F.col("_airbyte_end_at") > F.lit(at_cursor))
        )
    )
    if deleted_col in h.columns:
        out = out.filter(F.col(deleted_col).isNull())
    return out


def resolve_scd_changelog(
    changes: DataFrame,
    pk: Sequence[str],
    cursor: str = "_ab_cdc_lsn",
    bounded: bool = False,
) -> DataFrame:
    """Fold SCD-table changelog rows (``LakeTable.changes_between`` over a
    ``<stream>_scd`` table) into the resolved history state — the
    consumer-side re-derivation the CDF contract requires.

    Change rows of an SCD table (MOR delta rows AND COW existence-diff
    rows) carry NULL ``_airbyte_end_at``/``_airbyte_active_row``: those
    are derived over the key's WHOLE version set and cannot be attributed
    to single change rows. A consumer accumulating the feed re-derives
    them here — collapse duplicate deliveries with the deterministic
    write-path rule, then the next-version-lag window — which makes the
    replayed state byte-equal to ``read_scd`` on the source table."""
    drop = [
        c
        for c in (
            "_change_version", "_change_type", META_LSN, META_DELETED,
            *SCD_OUT_COLS,
        )
        if c in changes.columns
    ]
    versions = salted_scd2_input(changes.drop(*drop), pk, cursor)
    window = scd2_bounded if bounded else scd2
    return window(versions, pk, cursor)


def scd_compact(
    table: LakeTable,
    bounded: bool = False,
    buckets: Optional[Sequence[int]] = None,
) -> int:
    """Fold SCD delta files back into fully-resolved base files.

    Only buckets holding delta files are rewritten (all versions of a key
    share its bucket, so per-bucket re-windowing is exact); other buckets'
    materialized history is untouched. After this, ``read_scd`` is a plain
    scan again (over the folded buckets). This is the periodic fold the
    streaming loop runs between merges — the amortized cost that replaces
    per-batch full-bucket rewrite amplification. ``buckets`` restricts the
    fold to a subset (the budgeted-maintenance path): per-bucket folding is
    exact, so folding a prefix now and the rest next cycle converges to the
    same state."""
    snap = table.snapshot()
    per_bucket: dict[int, list[str]] = {}
    delta_buckets: set[int] = set()
    for path, meta in snap.files.items():
        per_bucket.setdefault(meta["bucket"], []).append(path)
        if meta.get("kind", "base") == "delta":
            delta_buckets.add(meta["bucket"])
    if buckets is not None:
        delta_buckets &= set(buckets)
    if not delta_buckets:
        return snap.version
    targets = sorted(delta_buckets)
    raw = table.read(buckets=targets, snap=snap, resolve=False)
    hist = _resolved_history(snap, raw, bounded)
    rows = hist.select(
        "*",
        F.col(snap.primary_key[-1]).cast("long").alias(META_LSN),
        F.lit(False).alias(META_DELETED),
    ).withColumn("_b", table.bucket_expr(snap))
    adds, _ = table.write_data_files(snap, rows, touched_buckets=len(targets))
    removes = [p for b in targets for p in per_bucket[b]]
    return table.commit(snap, adds, removes, op="scd_compact")


def _scd_lineage(app_id, batch_id, per_bucket: dict, epoch):
    rows_in = sum(v["rows"] for v in per_bucket.values())
    lsns = [v["max_lsn"] for v in per_bucket.values() if v["max_lsn"] is not None]
    out = {
        "app_id": app_id,
        "batch_id": batch_id,
        "rows_in": rows_in,
        "rows_upserted": rows_in,
        "rows_deleted": 0,
        "max_lsn": max(lsns) if lsns else None,
        "epoch": epoch,
    }
    if per_bucket:
        out["partitions"] = per_bucket
    return out
