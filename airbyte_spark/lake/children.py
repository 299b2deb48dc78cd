"""Per-child-stream final tables — P8 wired into the sync path.

The reference materializes one final table per nested child stream
(stream_processor.py:347-384 ``find_children_streams``; each child
StreamProcessor emits its own dbt model with the chained-hashid pk and its
own incremental state). Spark-first shape: each child stream from
``unnest_children_with_specs`` becomes its OWN ``LakeTable`` — bucketed on
the parent-link hashid, fenced independently per (app_id, batch_id), so a
crash between the parent commit and a child commit replays the batch and
each table individually skips or applies it (exactly-once PER TABLE, the
same contract the SCD history table carries next to the SCD1 table).

Merge semantics per micro-batch (CDC upsert cascaded to children):

1. collapse the at-least-once batch to the winning event per parent key;
2. unnest the LIVE winners into the child-table tree (map-side
   ``posexplode`` per level, the parent's cursor carried onto every row);
3. per child stream, top-down: new child rows upsert by
   ``(hashid, pos)``; STALE rows — positions of a touched parent that the
   new array no longer has, or all positions of a deleted parent — become
   tombstones at the parent's new cursor, so late lower-LSN re-deliveries
   cannot resurrect them. Staleness cascades: a removed child row's own
   descendants are tombstoned at the next level down. The stale probe
   scans WITH tombstones included, so a crash between a parent-level and
   a child-level commit replays the cascade correctly (the already-
   committed level re-tombstones as a no-op; the missed level catches up).

Late-parent fencing: a parent's child SET is versioned by the PARENT's
cursor, so a late lower-LSN parent event must no-op WHOLESALE — per-row
LSN checks alone would let it INSERT positions that never existed in the
newer state (e.g. a longer old array after the new one shrank, or after
the array went empty). Every batch therefore also upserts one WATERMARK
SENTINEL row per touched parent — ``pos = -1``, tombstoned, cursor = the
parent's new LSN — and a batch's parent is applied only when its cursor
EXCEEDS the stored per-parent watermark (max ``__lsn`` over the parent's
rows incl. sentinels). Sentinels are invisible to normal reads (they are
tombstones) and give an exact watermark even for parents whose arrays
are empty or deleted.

Scale shape: the stale probe reads ONLY the buckets holding the batch's
parent hashids (bucket-pruned, same pruning as the COW merge itself) and
broadcast-joins them against the ≤|batch| touched-parent set — per batch
the cost is O(batch + touched fraction of each child table), never
O(child table).
"""

from __future__ import annotations

import os
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import TableSchema
from ..functions.plan_cache import expr_cache
from ..operators.dedup import latest_per_key, surrogate_hash_id, surrogate_key_expr
from ..operators.unnest import unnest_children_with_specs
from .merge import MergeStats, merge_batch
from .table import LakeTable, META_LSN


def child_table_path(base_path: str, name: str) -> str:
    return os.path.join(base_path, name)


def bootstrap_child_tables(
    spark: SparkSession,
    base_path: str,
    feed_struct: T.StructType,
    parent_pk: Sequence[str],
    stream_name: str = "root",
    cursor: str = "_ab_cdc_lsn",
    n_buckets: int = 8,
) -> tuple[dict[str, LakeTable], list[dict]]:
    """Create (or open) one LakeTable per child stream of ``feed_struct``.

    The child catalog comes from walking the schema tree exactly the way
    the row-level unnest does (``unnest_children_with_specs`` over an
    empty frame), so table schemas, names and pk chains always agree with
    what the merge will produce. Each table: pk = (parent hashid, pos),
    bucketed on the hashid — a join back to the parent on the hashid is
    co-partitioned, and the stale probe prunes to touched buckets.

    Child schemas are DERIVED (there is no user DDL surface for them), so
    when the configured feed struct evolves, an existing child table is
    auto-evolved to the re-walked schema via the same catalog diff the
    main table uses — the Spark analog of the reference regenerating its
    child dbt models from the catalog on every sync. Metadata-only commit;
    old files null-pad/cast at read like any LakeTable evolution."""
    from ..catalog import diff_schemas

    empty = spark.createDataFrame([], feed_struct)
    dfs, specs = unnest_children_with_specs(
        empty, parent_pk, stream_name, carry_cols=[cursor]
    )
    tables: dict[str, LakeTable] = {}
    for spec in specs:
        path = child_table_path(base_path, spec["name"])
        want = dfs[spec["name"]].schema
        if LakeTable.exists(path):
            t = LakeTable(spark, path)
            transforms = diff_schemas(
                t.snapshot().schema, want,
                primary_key=list(spec["pk"]), cursor_field=cursor,
            )
            if transforms:
                t.evolve(transforms)
            tables[spec["name"]] = t
            continue
        tables[spec["name"]] = LakeTable.create(
            spark,
            path,
            TableSchema.from_struct(want),
            primary_key=list(spec["pk"]),
            bucket_cols=[spec["hashid_col"]],
            n_buckets=n_buckets,
        )
    return tables, specs


def merge_children_batch(
    tables: dict[str, LakeTable],
    specs: list[dict],
    batch: DataFrame,
    parent_pk: Sequence[str],
    order_cols: Sequence[str],
    stream_name: str = "root",
    cursor: str = "_ab_cdc_lsn",
    deleted_col: str = "_ab_cdc_deleted_at",
    app_id: str = "default",
    batch_id: int = 0,
    strategy: str = "cow",
    post_collapse: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> dict[str, MergeStats]:
    """Apply one micro-batch to every child table (each fenced on its own
    (app_id, batch_id) — exactly-once per table; see module docstring for
    the upsert/tombstone-cascade semantics)."""
    if all(_fenced(tables[s["name"]], app_id, batch_id) for s in specs):
        return {s["name"]: MergeStats(skipped=True) for s in specs}

    stats: dict[str, MergeStats] = {}
    winners = latest_per_key(batch, parent_pk, order_cols)
    if post_collapse is not None:
        winners = post_collapse(winners)
    winners = winners.persist()
    try:
        live = winners.filter(F.col(deleted_col).isNull())
        dfs, _ = unnest_children_with_specs(
            live, parent_pk, stream_name, carry_cols=[cursor]
        )
        # touched parents per level: (hashid value, the parent's new cursor)
        root_hashid = f"_{stream_name}_hashid"
        touched: dict[str, DataFrame] = {
            stream_name: surrogate_hash_id(winners, parent_pk, root_hashid)
            .select(root_hashid, F.col(cursor).cast("long").alias("_new_lsn"))
        }
        for s in specs:
            name, hashid_col = s["name"], s["hashid_col"]
            table = tables[name]
            new_rows = dfs[name]
            parents = touched[s["parent"]]

            snap = table.snapshot()
            existing = _probe_existing(table, snap, parents)
            # late-parent fence: apply a parent only when its cursor beats
            # the stored watermark (see module docstring). A NULL parent
            # cursor (snapshot/full-refresh record without CDC metadata —
            # merge_batch accepts these, so the cascade must too) sorts
            # just above the no-watermark floor: it applies when nothing
            # newer is stored and loses to any real-LSN parent.
            wm = existing.groupBy(hashid_col).agg(
                F.max(META_LSN).alias("_wm")
            )
            joined = parents.join(wm, hashid_col, "left")
            advances, ties = _fence_conds()
            adv = joined.filter(advances).select(hashid_col, "_new_lsn")
            # crash-replay repair set: a level already committed for this
            # batch has wm == _new_lsn, so the strict filter goes empty and
            # would propagate NOTHING to the next level — losing the
            # grandchild batch forever (its fence still advances via the
            # empty commit). `prop` keeps cursor-TIES so a replayed level
            # still names its touched links; the next level's own watermark
            # (strict) makes re-propagation a no-op once it has applied.
            prop = joined.filter(ties).select(hashid_col, "_new_lsn")
            new_prop = new_rows.join(
                F.broadcast(prop.select(hashid_col)), hashid_col
            )
            stale_prop = (
                existing.filter(F.col("pos") >= 0)
                .join(F.broadcast(prop), hashid_col)
                .join(
                    new_prop.select(hashid_col, "pos"),
                    on=[hashid_col, "pos"],
                    how="left_anti",
                )
                .select(*new_rows.columns, "_new_lsn")
            )
            new_eff = new_prop.join(
                F.broadcast(adv.select(hashid_col)), hashid_col
            )
            stale = stale_prop.join(
                F.broadcast(adv.select(hashid_col)), hashid_col
            ).select(*new_rows.columns, "_new_lsn")
            fields = tuple((f.name, f.dataType) for f in new_rows.schema.fields)
            live_x, tomb_x, sentinel_x = _child_batch_exprs(
                fields, hashid_col, cursor, deleted_col
            )
            child_batch = (
                new_eff.select(*live_x)
                .unionByName(stale.select(*tomb_x))
                .unionByName(adv.select(*sentinel_x))
            )
            stats[name] = merge_batch(
                table,
                child_batch,
                order_cols=[cursor],
                cursor=cursor,
                deleted_col=deleted_col,
                app_id=app_id,
                batch_id=batch_id,
                snap=snap,
                strategy=strategy,
            )
            # next level's touched parents: every (hashid, pos) this batch
            # re-emitted or tombstoned — their descendants are in play.
            # Derived from the `prop` (ties-kept) sets, not the strict
            # `adv` ones, so a replayed level still cascades (see above).
            if any(s2["parent"] == name for s2 in specs):
                child_hashid = f"_{name}_hashid"
                # the shared surrogate-key expression — MUST stay in
                # lockstep with the hashids unnest_children chains
                link = surrogate_key_expr([hashid_col, "pos"]).alias(
                    child_hashid
                )
                touched[name] = (
                    new_prop.join(F.broadcast(prop), hashid_col)
                    .select(link, "_new_lsn")
                    .unionByName(stale_prop.select(link, "_new_lsn"))
                    .distinct()
                )
        return stats
    finally:
        winners.unpersist()


@expr_cache
def _fence_conds():
    """The late-parent fence over (parent cursor ``_new_lsn``, stored
    watermark ``_wm``): (strictly advances, advances or ties). A NULL
    parent cursor sorts just above the no-watermark floor."""
    new_cur = F.coalesce(F.col("_new_lsn"), F.lit(-(2**62) + 1))
    old_wm = F.coalesce(F.col("_wm"), F.lit(-(2**62)))
    return new_cur > old_wm, new_cur >= old_wm


@expr_cache
def _child_batch_exprs(
    fields: tuple, hashid_col: str, cursor: str, deleted_col: str
) -> tuple[tuple, tuple, tuple]:
    """Select lists of a child batch's three parts over the child schema
    ``fields`` ((name, dataType) pairs): live rows (deleted NULL); stale
    rows tombstoned at the parent's new LSN, the tombstone's conflict key;
    and each advanced parent's sentinel row (pos -1)."""
    epoch = F.to_timestamp(F.lit("1970-01-01")).alias(deleted_col)
    at_new_lsn = F.col("_new_lsn")
    live = tuple(F.col(name) for name, _ in fields)
    tomb = tuple(
        at_new_lsn.cast(dt).alias(name) if name == cursor else F.col(name)
        for name, dt in fields
    )
    sentinel = []
    for name, dt in fields:
        if name == hashid_col:
            sentinel.append(F.col(hashid_col))
        elif name == "pos":
            sentinel.append(F.lit(-1).cast(dt).alias("pos"))
        elif name == cursor:
            sentinel.append(at_new_lsn.cast(dt).alias(name))
        else:
            sentinel.append(F.lit(None).cast(dt).alias(name))
    return (
        (*live, F.lit(None).cast("timestamp").alias(deleted_col)),
        (*tomb, epoch),
        (*sentinel, epoch),
    )


def read_children(
    spark: SparkSession,
    base_path: str,
    specs: list[dict],
) -> dict[str, DataFrame]:
    """Open every persisted child table for reading."""
    return {
        s["name"]: LakeTable(spark, child_table_path(base_path, s["name"])).read()
        for s in specs
    }


def _fenced(table: LakeTable, app_id: str, batch_id: int) -> bool:
    last = table.snapshot().fences.get(app_id)
    return last is not None and batch_id <= last


def _probe_existing(table: LakeTable, snap, parents: DataFrame):
    """Bucket-pruned scan of a child table restricted to the touched
    parents' buckets, tombstones and meta included (the watermark and the
    crash-replay cascade both need them). The touched set is ≤ |batch|
    rows, so the probe joins stay broadcast-sized."""
    touched_buckets = sorted(
        r["_b"]
        for r in parents.select(
            table.bucket_expr(snap).alias("_b")
        ).distinct().collect()
    )
    return table.read(
        buckets=touched_buckets, snap=snap,
        include_deleted=True, include_meta=True,
    )
