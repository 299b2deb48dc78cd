"""Structured Streaming CDC replay — the engine's EP2/EP1 equivalent.

Tails a WAL/binlog feed directory (ordered parquet segments ≈ Debezium's
bounded event queue, AirbyteDebeziumHandler.java:94-130) and upserts each
micro-batch into a LakeTable via the fenced MERGE:

    readStream(feed)
      -> foreachBatch:
           collapse to the latest event per key (pk, LSN order)
           canonicalize text (pandas UDF)
           conform to current table schema (cast / null-pad — star_intersect)
           merge_batch(...)  # fenced, atomic

The query has no stateful operator. Exactly-once rests on a replayable
source, write-ahead offsets and an idempotent sink (the Structured Streaming
model): foreachBatch is at-least-once on failure/restart; the fence
(app_id, batch_id) recorded in the same lake commit as the data makes
re-delivery a no-op — the Spark analog of Airbyte's committed-state contract
(BufferedStreamConsumer.java:178-203, DefaultReplicationWorker.java:500-521).
An event re-delivered in a LATER batch is absorbed by LSN resolution: the
per-batch collapse, the MOR scan's max-LSN resolution, the COW merge keeping
the target on an equal LSN, and the SCD paths' distinct (pk, cursor)
versions. Late events are never dropped: a late event that carries its
key's newest LSN still wins, however old its ``_airbyte_emitted_at``.
The fence is scoped to one checkpoint lineage: a new checkpoint dir must use
a new app_id (same contract as the reference's per-connection state).

Upgrade: earlier versions put a watermarked ``dropDuplicatesWithinWatermark``
in front of the sink, and Spark refuses to resume a checkpoint whose state
metadata names an operator the query no longer has. ``run_replay_stream``
therefore moves such a checkpoint's ``state/`` directory aside (renamed to
``state.removed-dedup``, never deleted) before it starts the query.

Boundedness: ``Trigger.AvailableNow`` reproduces the reference's
"read to target position then stop" (CdcTargetPosition semantics);
``maxFilesPerTrigger``/``maxBytesPerTrigger`` is the queue-capacity analog.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake import LakeTable, merge_batch
from ..plans.replay import prepare_changes
from ..schemas import CHANGE_META_COLS, CHANGE_STRUCT, ORDER_COLS, PK, TRANSCRIPT_STRUCT
from ..catalog import TableSchema

log = logging.getLogger(__name__)

#: where ``run_replay_stream`` moves a checkpoint's state of the removed
#: watermark dedup
REMOVED_DEDUP_STATE = "state.removed-dedup"


@dataclass
class ReplayConfig:
    feed_dir: str
    table_path: str
    checkpoint_dir: str
    app_id: str = "transcripts-replay"
    max_files_per_trigger: Optional[int] = None
    max_bytes_per_trigger: Optional[str] = None
    canonicalize: bool = True
    #: DEPRECATED, inert: the stateful watermark dedup is gone (the sink
    #: is idempotent on (pk, LSN) — module docstring). Both fields are
    #: accepted so existing callers keep working; they select nothing.
    watermark_dedup: bool = True
    watermark: str = "2 hours"
    #: "cow" rewrites touched buckets per batch (read-optimized);
    #: "mor" appends delta files resolved at scan (write-optimized — the
    #: 10^10-event streaming path; compact() folds deltas periodically)
    strategy: str = "cow"
    #: with strategy="mor": fold deltas into base (+vacuum) every N
    #: micro-batches — bounds scan-time resolution fan-in while keeping
    #: the per-batch write cost O(batch) between folds
    compact_every_batches: Optional[int] = None
    #: bound each maintenance cycle's rewrite cost (lake.maintenance): the
    #: cadence then rewrites only the worst buckets under the policy's
    #: bucket-count/byte budgets instead of every fragmented bucket — at
    #: 10^10 events a blunt compact() can rewrite the whole table inside
    #: the ingest loop. None keeps the unbudgeted fold (test scale).
    maintenance_policy: Optional[object] = None
    #: maintain a <stream>_scd Type-2 history table at this path alongside
    #: the SCD1 latest-state table (reference's incremental SCD contract,
    #: stream_processor.py:892-942); each table carries its own fence
    scd_table_path: Optional[str] = None
    #: "cow" re-windows + rewrites the touched history buckets per batch;
    #: "mor" appends immutable version rows as deltas (O(batch)/trigger —
    #: the 10^10-event path) re-derived at read (lake.scd.read_scd) and
    #: folded by scd_compact on the compact_every_batches cadence
    scd_strategy: str = "cow"
    #: persist nested child streams (P8 in the sync path): one LakeTable
    #: per array column of feed_struct at any depth, under this directory,
    #: each fenced independently — the reference's per-child-stream final
    #: tables (stream_processor.py:347-384). Names chain from stream_name.
    child_tables_path: Optional[str] = None
    #: root stream name for child-table naming (<stream>_<field>...)
    stream_name: str = "transcripts"
    #: write-audit-publish gate: a dict of schema-test specs
    #: ({"not_null": [...], "unique": [[...]], "expressions": {...}}) run
    #: per micro-batch against the STAGED post-merge state of the touched
    #: buckets (quality.audited_merge_batch). A failing batch is aborted
    #: before it is ever visible and the QUERY fails — the reference's
    #: dbt-test-failure-fails-the-sync contract, moved pre-visibility.
    #: The checkpoint never advances past the failed batch, so fixing the
    #: gate (or the data) and restarting resumes exactly-once.
    audit_tests: Optional[dict] = None
    #: ingest-time enrichment (the O7 extension surface as a config knob):
    #: DataFrame -> DataFrame applied AFTER the per-key collapse and
    #: canonicalization — |keys| rows per trigger, not |events| — on BOTH
    #: the main-table merge and the SCD-history write, so the two tables
    #: always agree on the enriched values. The standard ingest-side
    #: curation hook: PII redaction, quality scoring, language tagging.
    #: Columns it ADDS must already exist in the table schema (bootstrap
    #: with an extended struct or evolve first); in-place rewrites of
    #: existing columns need no schema change.
    enrich: Optional[Callable[[DataFrame], DataFrame]] = None
    #: False = zero-row triggers leave no commit (idle continuous tails
    #: would otherwise grow the log one empty commit per trigger; safe
    #: because an empty batch is a no-op on re-delivery). True keeps the
    #: reference's complete per-batch lineage accounting.
    commit_empty_batches: bool = True
    #: continuous medallion hop: advance a DOWNSTREAM lake table to this
    #: table's state via the change-feed pipeline (lake.pipeline.tail_into)
    #: every ``tail_every_batches`` micro-batches — fenced, exactly-once,
    #: schema evolution propagated; the destination is bootstrapped with
    #: this table's layout. The tail runs BEFORE the compaction/vacuum
    #: cycle of its trigger so it always consumes delta files while they
    #: are still referenced; keep tail_every_batches <= compact_every_
    #: batches (or rely on vacuum grace) so the tail can never lag behind
    #: a vacuum of the commits it still has to read.
    tail_to_path: Optional[str] = None
    tail_every_batches: int = 1
    #: fence id for the tail hop (one per src->dst edge). Default derives
    #: from app_id; set it explicitly to share the fence with a bounded
    #: CLI hop (--tail-app-id) so switching modes resumes instead of
    #: restarting the edge from version 0
    tail_app_id: Optional[str] = None
    #: columns to drift-profile per trigger (streaming/drift.py): their
    #: per-batch mean/null-count aggregates ride the SAME "replay_feed"
    #: observation as the O8 estimates — zero extra passes — and surface
    #: in observedMetrics for a driver-side DriftDetector
    #: (drift.alerts_from_listener) to score
    drift_cols: Optional[Sequence[str]] = None
    feed_struct: T.StructType = field(default_factory=lambda: CHANGE_STRUCT)
    epoch: Optional[int] = None
    #: chunked resumable initial snapshot (sources/snapshot.py — the
    #: DBLog / Debezium-incremental-snapshot analog of the reference's
    #: snapshot-then-WAL composition, PostgresSource.java:377-381, made
    #: resumable and NON-blocking): a persisted SnapshotPlan at this path
    #: is drained ``snapshot_chunks_per_trigger`` chunks per micro-batch,
    #: each chunk a fenced merge through the SAME per-table pipeline
    #: (main + SCD history + children) as the live tail. Low-watermark
    #: LSN stamping makes any chunk/tail interleaving converge (module
    #: docstring has the argument); a crash resumes at the chunk fence.
    #: Bounded (availableNow) syncs drain any remaining chunks after the
    #: stream ends; a CONTINUOUS tail drains only on data triggers — on a
    #: quiet feed finish the snapshot out-of-band with run_snapshot (safe
    #: concurrently-ordered by the same fences).
    snapshot_plan_path: Optional[str] = None
    #: parquet dir of plain source rows (payload shape) to snapshot;
    #: unneeded when the plan was staged (stage_chunks)
    snapshot_source_dir: Optional[str] = None
    snapshot_chunks_per_trigger: int = 2
    #: ingest-time near-dup flagging (ops/dedup_index.py): maintain a
    #: MUTABLE MinHash-LSH band index of the stream's text at this path,
    #: updated per trigger with each key's winning version (its CDC LSN is
    #: the index version, so late stale events lose the resolution exactly
    #: like on the main table; deletes retract the doc's entries), and
    #: append candidate pairs to a fenced ``<path>_flags`` table (override
    #: via dedup_flags_path) — the quarantine feed a curation pipeline
    #: reviews downstream. doc_id = h60 of the pk (60-bit; collisions
    #: vanishingly rare and only ever ADD a spurious candidate pair).
    #: Cost per trigger: O(|keys| + matched buckets) — document-sized
    #: streams only; OFF by default.
    dedup_index_path: Optional[str] = None
    dedup_flags_path: Optional[str] = None
    dedup_text_col: str = "text"
    #: ingest-time SEMANTIC near-dup flagging (ops/ann_index.py): the
    #: sibling of dedup_index_path for an embedding column — maintain a
    #: MUTABLE sign-LSH index of each key's winning vector (CDC LSN as
    #: the version; updates re-point, deletes retract) and append
    #: candidate pairs to a fenced ``<path>_flags`` table (override via
    #: embedding_flags_path). The feed_struct must carry
    #: ``embedding_col`` (array<float>) — e.g. vectors attached by an
    #: upstream encoder or the ``enrich`` hook's sibling pipeline.
    embedding_index_path: Optional[str] = None
    embedding_flags_path: Optional[str] = None
    embedding_col: str = "embedding"
    #: test hook: called as fault(batch_id) AFTER the merge commit — lets
    #: tests crash in the at-least-once window between sink commit and
    #: checkpoint commit
    fault: Optional[Callable[[int], None]] = None
    #: test hook: called between the parent-table commit and the child-
    #: table commits — the crash window the exactly-once-PER-TABLE tests
    #: target (each table carries its own fence and catches up on replay)
    fault_between_tables: Optional[Callable[[int], None]] = None


def bootstrap_table(
    spark: SparkSession,
    table_path: str,
    n_buckets: int = 32,
    feed_struct: Optional[T.StructType] = None,
) -> LakeTable:
    """Create the silver lake table if absent (pk + bucket(conv_id)).

    Schema = the feed's payload columns (CDC/delivery metadata stripped);
    with the default CHANGE_STRUCT feed that is exactly TRANSCRIPT_STRUCT.
    Nested feeds keep their array columns here too — the child-table tree
    (cfg.child_tables_path) is a normalized VIEW of them, same as the
    reference keeping raw JSON in the parent while emitting child models."""
    if LakeTable.exists(table_path):
        return LakeTable(spark, table_path)
    if feed_struct is None:
        struct = TRANSCRIPT_STRUCT
    else:
        struct = T.StructType(
            [f for f in feed_struct.fields if f.name not in CHANGE_META_COLS]
        )
    return LakeTable.create(
        spark,
        table_path,
        TableSchema.from_struct(struct),
        primary_key=list(PK),
        bucket_cols=["conv_id"],
        n_buckets=n_buckets,
        # record per-file event-time bounds so time-windowed reads prune
        # at file granularity (ingest order correlates with event time)
        stats_cols=["ts"] if any(f.name == "ts" for f in struct.fields) else None,
        # compaction-time sort order: cluster each bucket's rewritten files
        # by conversation so downstream assembly reads transcripts
        # contiguously and pk range predicates prune row groups
        sort_cols=[c for c in PK if any(f.name == c for f in struct.fields)],
    )


def bootstrap_mirror(spark: SparkSession, src: LakeTable, path: str) -> LakeTable:
    """Create (or open) a downstream table with ``src``'s layout — the
    destination of a medallion tail hop (lake.pipeline.tail_into)."""
    if LakeTable.exists(path):
        return LakeTable(spark, path)
    s = src.snapshot()
    return LakeTable.create(
        spark, path, s.schema,
        primary_key=list(s.primary_key),
        bucket_cols=list(s.bucket_cols),
        n_buckets=s.n_buckets,
    )


def dedup_flag_batch(
    batch_df: DataFrame,
    dedup_ctx: tuple,
    app_id: str,
    batch_id: int,
    *,
    text_col: str = "text",
    post: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> None:
    """Ingest-time near-dup flagging for ONE change batch: collapse to the
    per-key winners, mirror the index against them (upserts + retractions),
    and append the candidate pairs to the flags table. Shared by the
    streaming trigger (`_apply`) and the one-shot `--backfill` batch so
    both paths keep the index in lockstep with the main table."""
    from ..operators.dedup import latest_per_key
    from ..ops.dedup_index import flag_and_ingest
    from ..ops.hashing import h60

    d_index, d_flags = dedup_ctx
    top = latest_per_key(batch_df, PK, ORDER_COLS)
    did = h60(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in PK]))
    # the index must see the text the TABLE stores: same
    # canonicalize+enrich as the merge's post-collapse
    live = top.filter(F.col("_ab_cdc_deleted_at").isNull())
    if post is not None:
        live = post(live)
    has_text = F.col(text_col).isNotNull()
    docs = live.filter(has_text).select(
        did.alias("doc_id"),
        F.col(text_col).alias("text"),
        F.col("_ab_cdc_lsn").cast("long").alias("_version"),
    )
    # deletes AND null-text winners both retract: a null text has
    # no shingles — every such doc would otherwise collapse onto
    # one degenerate band key and cross-flag all of them, and an
    # update-to-null must stop the doc's OLD text from matching
    retract = [
        did.alias("doc_id"),
        F.col("_ab_cdc_lsn").cast("long").alias("_version"),
    ]
    dels = (
        top.filter(F.col("_ab_cdc_deleted_at").isNotNull())
        .select(*retract)
        .unionByName(live.filter(~has_text).select(*retract))
    )
    # flag_and_ingest commits the fenced flags append BEFORE its
    # index merge: a crash in any window replays the trigger with
    # either an unchanged index (identical recompute, flags fence
    # skips) or both commits fenced — stale flags can never land
    flag_and_ingest(
        d_index,
        docs,
        app_id=app_id,
        batch_id=batch_id,
        version_col="_version",
        deletes=dels,
        flags_table=d_flags,
    )


def embedding_flag_batch(
    batch_df: DataFrame,
    emb_ctx: tuple,
    app_id: str,
    batch_id: int,
    *,
    emb_col: str = "embedding",
    post: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> None:
    """Semantic sibling of ``dedup_flag_batch``: mirror the mutable
    sign-LSH embedding index against one change batch's per-key winners
    (upserts re-point the vector's bucket row, deletes and null-embedding
    winners retract) and append candidate pairs to the flags table —
    flags committed before the index merge, same crash-window ordering."""
    from ..operators.dedup import latest_per_key
    from ..ops.ann_index import embedding_flag_and_ingest
    from ..ops.hashing import h60

    e_index, e_flags = emb_ctx
    top = latest_per_key(batch_df, PK, ORDER_COLS)
    vid = h60(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in PK]))
    live = top.filter(F.col("_ab_cdc_deleted_at").isNull())
    if post is not None:
        live = post(live)
    has_emb = F.col(emb_col).isNotNull()
    vecs = live.filter(has_emb).select(
        vid.alias("vec_id"),
        F.col(emb_col).cast("array<float>").alias("embedding"),
        F.col("_ab_cdc_lsn").cast("long").alias("_version"),
    )
    retract = [
        vid.alias("vec_id"),
        F.col("_ab_cdc_lsn").cast("long").alias("_version"),
    ]
    dels = (
        top.filter(F.col("_ab_cdc_deleted_at").isNotNull())
        .select(*retract)
        .unionByName(live.filter(~has_emb).select(*retract))
    )
    embedding_flag_and_ingest(
        e_index,
        vecs,
        app_id=app_id,
        batch_id=batch_id,
        version_col="_version",
        deletes=dels,
        flags_table=e_flags,
    )


def _snapshot_secondaries(
    scd_table: Optional[LakeTable],
    children: Optional[tuple[dict, list]],
    dedup_ctx: Optional[tuple],
    emb_ctx: Optional[tuple] = None,
) -> list[LakeTable]:
    """Every table (besides the main one) that ``_apply`` commits a chunk
    into — the set whose fences bound the snapshot resume point."""
    secs: list[LakeTable] = []
    if scd_table is not None:
        secs.append(scd_table)
    if children is not None:
        secs.extend(children[0].values())
    if dedup_ctx is not None:
        secs.extend(dedup_ctx)
    if emb_ctx is not None:
        secs.extend(emb_ctx)
    return secs


def _process_batch(
    table: LakeTable,
    cfg: ReplayConfig,
    scd_table: Optional[LakeTable] = None,
    children: Optional[tuple[dict, list]] = None,
    tail_dst: Optional[LakeTable] = None,
    snapshot_ctx: Optional[tuple] = None,
    dedup_ctx: Optional[tuple] = None,
    emb_ctx: Optional[tuple] = None,
):
    # a feed without some of the ordering columns (e.g. no
    # _airbyte_emitted_at) orders by the ones it has
    feed_cols = {f.name for f in cfg.feed_struct.fields}
    order_cols = [c for c in ORDER_COLS if c in feed_cols]

    def _apply(
        batch_df: DataFrame, app_id: str, batch_id: int, commit_empty: bool
    ):
        """One fenced pass of the whole per-table pipeline (main merge +
        SCD history + children) — shared by live WAL micro-batches and
        interleaved snapshot chunks, so a snapshotted row gets exactly the
        same treatment (audit gate included) as a tailed one."""

        def _post(df: DataFrame) -> DataFrame:
            # canonicalization (pandas UDF) + optional enrichment run after
            # the per-key collapse inside the merge — |keys| rows, not
            # |events|
            out = prepare_changes(df, canonicalize=cfg.canonicalize)
            return cfg.enrich(out) if cfg.enrich is not None else out

        merge_kwargs = dict(
            app_id=app_id,
            batch_id=batch_id,
            epoch=cfg.epoch,
            post_collapse=_post,
            strategy=cfg.strategy,
            commit_empty=commit_empty,
        )
        if cfg.audit_tests is not None:
            from ..lake.quality import audited_merge_batch

            stats = audited_merge_batch(
                table, batch_df, order_cols, **cfg.audit_tests, **merge_kwargs
            )
        else:
            stats = merge_batch(table, batch_df, order_cols, **merge_kwargs)
        if scd_table is not None:
            # AFTER the (possibly audited) main merge: an audit-failed
            # batch must abort before ANY table sees it — committing the
            # SCD history first would make the bad rows permanently
            # visible there (and its advanced fence would skip the fixed
            # re-delivery). A crash between the main commit and this one
            # replays the batch; each table's own fence skips or applies.
            from ..lake.scd import scd_merge_batch

            scd_merge_batch(
                scd_table,
                batch_df,
                PK,
                app_id=app_id,
                batch_id=batch_id,
                epoch=cfg.epoch,
                post_dedup=_post,
                strategy=cfg.scd_strategy,
                commit_empty=commit_empty,
            )
        if children is not None:
            from ..lake.children import merge_children_batch

            if cfg.fault_between_tables is not None:
                cfg.fault_between_tables(batch_id)
            child_tables, child_specs = children
            merge_children_batch(
                child_tables,
                child_specs,
                batch_df,
                PK,
                order_cols,
                stream_name=cfg.stream_name,
                app_id=app_id,
                batch_id=batch_id,
                strategy=cfg.strategy,
            )
        if dedup_ctx is not None:
            dedup_flag_batch(
                batch_df, dedup_ctx, app_id, batch_id,
                text_col=cfg.dedup_text_col, post=_post,
            )
        if emb_ctx is not None:
            embedding_flag_batch(
                batch_df, emb_ctx, app_id, batch_id,
                emb_col=cfg.embedding_col, post=_post,
            )
        return stats

    def process(batch_df: DataFrame, batch_id: int) -> None:
        stats = _apply(
            batch_df, cfg.app_id, batch_id, cfg.commit_empty_batches
        )
        if snapshot_ctx is not None:
            # drain a few snapshot chunks per trigger through the SAME
            # pipeline — the reference's blocking snapshot-then-WAL
            # composition (PostgresSource.java:377-381) turned into a
            # non-blocking interleave; ordering is free (low-watermark
            # stamping, sources/snapshot.py docstring)
            from ..sources.snapshot import pending_chunks, read_chunk, stamp_chunk

            plan, snap_source = snapshot_ctx
            # resume from the MIN fence across every table _apply writes:
            # the per-table chunk commits are not atomic as a group, so a
            # crash between the main merge and the SCD/children/dedup
            # commits must re-run the chunk (each sub-merge fence-skips)
            pend = pending_chunks(
                table, plan,
                secondary=_snapshot_secondaries(
                    scd_table, children, dedup_ctx, emb_ctx
                ),
            )
            for i in pend[: max(0, cfg.snapshot_chunks_per_trigger)]:
                chunk = stamp_chunk(
                    read_chunk(batch_df.sparkSession, snap_source, plan, i),
                    plan,
                    order_cols=ORDER_COLS,
                )
                _apply(chunk, plan.app_id, i, True)
        if (
            tail_dst is not None
            and cfg.tail_every_batches
            and (batch_id + 1) % cfg.tail_every_batches == 0
        ):
            # continuous medallion hop — BEFORE this trigger's compaction/
            # vacuum so the delta files it reads are still referenced.
            # Runs on fenced re-deliveries too: a crash between the merge
            # commit and the tail would otherwise leave the mirror one
            # batch behind forever on a bounded run (the tail itself is a
            # fenced no-op when already caught up)
            from ..lake.pipeline import tail_into

            tail_into(
                table, tail_dst,
                app_id=cfg.tail_app_id or f"{cfg.app_id}-tail",
            )
        if (
            not stats.skipped
            and cfg.compact_every_batches
            and (batch_id + 1) % cfg.compact_every_batches == 0
        ):
            # single-writer window between merges: safe to fold; the grace
            # window keeps files referenced by the last few snapshots so a
            # concurrent reader mid-scan never loses its files
            if cfg.maintenance_policy is not None:
                from ..lake.maintenance import maintain

                maintain(table, cfg.maintenance_policy)
                if scd_table is not None:
                    if cfg.scd_strategy == "mor":
                        maintain(scd_table, cfg.maintenance_policy, scd=True)
                    else:
                        # COW history: every scd_merge rewrote its touched
                        # buckets — without a vacuum the dereferenced
                        # files accumulate one bucket-rewrite per batch
                        scd_table.vacuum(
                            grace_commits=cfg.maintenance_policy.vacuum_grace_commits
                        )
                if children is not None:
                    for ct in children[0].values():
                        maintain(ct, cfg.maintenance_policy)
            else:
                table.compact()
                table.vacuum(grace_commits=2)
                if scd_table is not None:
                    if cfg.scd_strategy == "mor":
                        from ..lake.scd import scd_compact

                        # re-windowing fold (NOT plain compact: the derived
                        # SCD columns must be materialized from the
                        # next-version lag)
                        scd_compact(scd_table)
                    # COW rewrites dereference whole buckets per batch —
                    # both strategies need the reclaim
                    scd_table.vacuum(grace_commits=2)
                if children is not None:
                    # child tables use plain LSN resolution — ordinary fold
                    for ct in children[0].values():
                        ct.compact()
                        ct.vacuum(grace_commits=2)
        if cfg.fault is not None:
            cfg.fault(batch_id)

    process.apply_batch = _apply  # snapshot-chunk drain reuses the pipeline
    return process


def _set_aside_dedup_state(checkpoint_dir: str) -> None:
    """Move a checkpoint's ``state/`` aside (rename, never delete). The
    query has no stateful operator, so that directory can only hold the
    state of the removed watermark dedup; left in place, Spark would
    refuse to resume (STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_
    METADATA)."""
    state = os.path.join(checkpoint_dir, "state")
    if not os.path.isdir(state):
        return
    dst = os.path.join(checkpoint_dir, REMOVED_DEDUP_STATE)
    os.rename(state, dst)
    log.warning(
        "checkpoint %s: moved the removed watermark dedup's state to %s",
        checkpoint_dir, dst,
    )


def run_replay_stream(
    spark: SparkSession,
    cfg: ReplayConfig,
    available_now: bool = True,
    await_termination: bool = True,
):
    """Start (and for available_now=True, run to completion) the replay.

    Returns the StreamingQuery. With ``available_now`` the call blocks until
    the current end of the feed is fully applied — the bounded "sync" mode;
    pass False for a continuous tail, or ``await_termination=False`` to
    start without blocking (multi-stream sync starts N queries then awaits
    them together — see sync.py).
    """
    table = bootstrap_table(spark, cfg.table_path, feed_struct=cfg.feed_struct)
    scd_table = None
    if cfg.scd_table_path:
        from ..lake.scd import bootstrap_scd_table

        scd_table = bootstrap_scd_table(
            spark, cfg.scd_table_path, cfg.feed_struct, PK,
            bucket_cols=["conv_id"],
            # bucketed LIKE THE MAIN TABLE (the bootstrap's own contract):
            # both upserts must prune/parallelize at the same granularity
            n_buckets=table.snapshot().n_buckets,
        )
    tail_dst = None
    if cfg.tail_to_path:
        tail_dst = bootstrap_mirror(spark, table, cfg.tail_to_path)
    children = None
    if cfg.child_tables_path:
        from ..lake.children import bootstrap_child_tables

        child_tables, child_specs = bootstrap_child_tables(
            spark, cfg.child_tables_path, cfg.feed_struct, PK,
            stream_name=cfg.stream_name,
        )
        if child_specs:
            children = (child_tables, child_specs)
    dedup_ctx = None
    if cfg.dedup_index_path:
        from ..ops.dedup_index import bootstrap_dedup_index, bootstrap_flags_table

        feed_cols = {f.name for f in cfg.feed_struct.fields}
        if cfg.dedup_text_col not in feed_cols:
            raise ValueError(
                f"dedup_index_path needs a {cfg.dedup_text_col!r} column in "
                "feed_struct (set dedup_text_col to the document column)"
            )
        dedup_ctx = (
            bootstrap_dedup_index(
                spark, cfg.dedup_index_path, n_buckets=8, mutable=True
            ),
            bootstrap_flags_table(
                spark,
                cfg.dedup_flags_path
                or cfg.dedup_index_path.rstrip("/") + "_flags",
            ),
        )
    emb_ctx = None
    if cfg.embedding_index_path:
        from ..ops.ann_index import (
            bootstrap_embedding_dedup_index,
            bootstrap_embedding_flags_table,
        )

        feed_cols = {f.name for f in cfg.feed_struct.fields}
        if cfg.embedding_col not in feed_cols:
            raise ValueError(
                f"embedding_index_path needs a {cfg.embedding_col!r} "
                "column in feed_struct (set embedding_col to the vector "
                "column)"
            )
        emb_ctx = (
            bootstrap_embedding_dedup_index(
                spark, cfg.embedding_index_path, n_buckets=8, mutable=True
            ),
            bootstrap_embedding_flags_table(
                spark,
                cfg.embedding_flags_path
                or cfg.embedding_index_path.rstrip("/") + "_flags",
            ),
        )
    snapshot_ctx = None
    if cfg.snapshot_plan_path:
        from ..sources.snapshot import SnapshotPlan

        plan = SnapshotPlan.load(cfg.snapshot_plan_path)
        snap_source = (
            spark.read.parquet(cfg.snapshot_source_dir)
            if cfg.snapshot_source_dir
            else None
        )
        snapshot_ctx = (plan, snap_source)
    os.makedirs(cfg.checkpoint_dir, exist_ok=True)
    _set_aside_dedup_state(cfg.checkpoint_dir)

    reader = spark.readStream.schema(cfg.feed_struct)
    if cfg.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
    if cfg.max_bytes_per_trigger:
        reader = reader.option("maxBytesPerTrigger", cfg.max_bytes_per_trigger)
    stream = reader.parquet(f"{cfg.feed_dir}/*.parquet")

    # O8 trace estimates (airbyte_protocol.yaml:208-237 record/byte
    # estimates): named observation evaluated inside the stream's own job —
    # zero extra passes; per-batch values surface in
    # StreamingQueryProgress.observedMetrics (ReplayMetricsListener)
    obs_cols = [F.count(F.lit(1)).alias("rows_obs")]
    if "text" in [f.name for f in cfg.feed_struct.fields]:
        obs_cols.append(
            F.sum(F.coalesce(F.length("text"), F.lit(0))).alias("text_bytes_obs")
        )
    if "_ab_cdc_lsn" in [f.name for f in cfg.feed_struct.fields]:
        obs_cols.append(F.max("_ab_cdc_lsn").alias("max_lsn_obs"))
    if cfg.drift_cols:
        from .drift import profile_cols

        feed_cols = {f.name for f in cfg.feed_struct.fields}
        missing = [c for c in cfg.drift_cols if c not in feed_cols]
        if missing:
            raise ValueError(f"drift_cols not in feed_struct: {missing}")
        obs_cols.extend(profile_cols(cfg.drift_cols))
    stream = stream.observe("replay_feed", *obs_cols)

    writer = (
        stream.writeStream.foreachBatch(
            _process_batch(
                table, cfg, scd_table, children, tail_dst, snapshot_ctx,
                dedup_ctx, emb_ctx,
            )
        )
        .option("checkpointLocation", cfg.checkpoint_dir)
        .queryName(cfg.app_id)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        if await_termination:
            q.awaitTermination()
            if snapshot_ctx is not None:
                # a bounded sync must not finish with the snapshot half
                # done (short feeds drain fewer triggers than chunks):
                # apply the remainder now through the SAME fenced
                # pipeline (main + SCD + children), chunk fences resume
                from ..sources.snapshot import (
                    pending_chunks,
                    read_chunk,
                    stamp_chunk,
                )

                plan, snap_source = snapshot_ctx
                proc = _process_batch(
                    table, cfg, scd_table, children, dedup_ctx=dedup_ctx,
                    emb_ctx=emb_ctx,
                )
                drained = 0
                for i in pending_chunks(
                    table, plan,
                    secondary=_snapshot_secondaries(
                        scd_table, children, dedup_ctx, emb_ctx
                    ),
                ):
                    chunk = stamp_chunk(
                        read_chunk(spark, snap_source, plan, i),
                        plan,
                        order_cols=ORDER_COLS,
                    )
                    proc.apply_batch(chunk, plan.app_id, i, True)
                    drained += 1
                if drained and tail_dst is not None:
                    # the per-trigger hops ran before these chunks landed —
                    # catch the mirror up so a bounded sync never ends with
                    # the downstream missing snapshot rows
                    from ..lake.pipeline import tail_into

                    tail_into(
                        table, tail_dst,
                        app_id=cfg.tail_app_id or f"{cfg.app_id}-tail",
                    )
    else:
        q = writer.trigger(processingTime="1 second").start()
        if await_termination:
            # a continuous tail must BLOCK the driver (spark-submit
            # --continuous would otherwise exit right after start and
            # tear the stream down); callers managing several queries
            # (sync.py) pass await_termination=False
            q.awaitTermination()
    return q
