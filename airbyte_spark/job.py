"""spark-submit entry point for the CDC replay job (north_rule: "ships as
spark-submit --py-files modules").

Usage:
    spark-submit --py-files airbyte_spark.zip -m airbyte_spark.job \
        --feed-dir /data/wal --table /lake/transcripts \
        --checkpoint /ckpt/transcripts [--continuous] [--epoch 2] \
        [--max-files-per-trigger 64] [--n-buckets 256]

Batch backfill variant (initial CDC snapshot, S4):
    ... airbyte_spark.job --feed-dir /data/wal --table /lake/transcripts \
        --checkpoint /ckpt/x --backfill

The SparkSession is taken from the environment (spark-submit provides the
master/executor config); local runs default to local[*] with AQE on.
"""

from __future__ import annotations

import argparse
import dataclasses

from pyspark.sql import SparkSession


def build_session(app_name: str = "airbyte-spark-replay") -> SparkSession:
    return (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


#: email/phone patterns of the --redact-pii preset
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def redact_text(text):
    """The redaction as one column expression: emails redact FIRST (an
    email's domain can contain digit runs a greedy phone pattern would
    otherwise eat — the order is part of the contract)."""
    from pyspark.sql import functions as F

    after_email = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(after_email, PHONE_RE, "<PHONE>")


def redact_pii_enrich():
    """--redact-pii preset: in-place email/phone redaction of the text
    column via ``redact_text``. Built as an enrich hook so it runs
    post-collapse at |keys| rows on both tables."""
    from pyspark.sql import functions as F

    def enrich(df):
        if "text" not in df.columns:
            return df
        return df.withColumn("text", redact_text(F.col("text")))

    return enrich


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="transcripts CDC replay")
    p.add_argument("--feed-dir", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--app-id", default="transcripts-replay")
    p.add_argument("--epoch", type=int, default=None)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--max-bytes-per-trigger", default=None)
    p.add_argument("--n-buckets", type=int, default=256)
    p.add_argument("--continuous", action="store_true",
                   help="keep tailing instead of Trigger.AvailableNow")
    p.add_argument("--strategy", choices=["cow", "mor"], default="cow",
                   help="every table (main, history, children): cow folds "
                        "each batch's touched buckets in its commit "
                        "(read-optimized); mor leaves the deltas for reads "
                        "and maintenance (write-optimized streaming ingest)")
    p.add_argument("--compact", action="store_true",
                   help="fold deltas / compact + vacuum after the bounded run")
    p.add_argument("--compact-every", type=int, default=None,
                   help="fold deltas / compact + vacuum every table every "
                        "N micro-batches")
    p.add_argument("--maintain-max-buckets", type=int, default=None,
                   help="budget each --compact-every and --compact cycle: "
                        "rewrite at most this many (worst-first) buckets "
                        "per cycle instead of every fragmented bucket "
                        "(--compact repeats cycles until clean)")
    p.add_argument("--maintain-max-mb", type=int, default=None,
                   help="byte budget per maintenance cycle (MiB)")
    p.add_argument("--scd-table", default=None,
                   help="also maintain a Type-2 <stream>_scd history table "
                        "at this path (incremental per micro-batch)")
    p.add_argument("--child-tables", default=None,
                   help="persist nested child streams (one fenced LakeTable "
                        "per array column of the feed, any depth) under "
                        "this directory")
    p.add_argument("--stream-name", default="transcripts",
                   help="root stream name for child-table naming")
    p.add_argument("--feed-schema-ddl", default=None,
                   help="override the change-feed schema (Spark DDL string; "
                        "include the CDC metadata columns) — required for "
                        "nested feeds driving --child-tables")
    p.add_argument("--backfill", action="store_true",
                   help="one-shot batch replay into the table (S4 snapshot)")
    p.add_argument("--no-canonicalize", action="store_true")
    p.add_argument("--redact-pii", action="store_true",
                   help="redact emails/phones from the text column at "
                   "ingest (ReplayConfig.enrich preset): runs after the "
                   "per-key collapse at |keys| rows per trigger, applied "
                   "to BOTH the main table and the SCD history — rows "
                   "land already-redacted, the compliance-pipeline shape")
    p.add_argument("--tail-to", default=None,
                   help="after a bounded sync, advance a DOWNSTREAM lake "
                        "table to this table's committed state via the "
                        "change-feed pipeline (fenced, exactly-once, "
                        "schema evolution propagated; auto-bootstraps the "
                        "destination with this table's layout) — the "
                        "medallion bronze->silver hop as a CLI step")
    p.add_argument("--tail-app-id", default="table_tail",
                   help="fence id for the --tail-to hop (one per edge)")
    p.add_argument("--reset", action="store_true",
                   help="per-stream reset (Airbyte reset job): wipe the "
                   "stream's data + exactly-once fences on the main/SCD/"
                   "child tables and delete its checkpoint, then exit — "
                   "the next sync re-bootstraps from the feed's beginning")
    p.add_argument("--snapshot-source", default=None,
                   help="parquet dir of plain source rows to bootstrap via "
                   "the CHUNKED RESUMABLE snapshot (sources/snapshot.py), "
                   "interleaved with the WAL tail — the non-blocking "
                   "alternative to --backfill for an already-flowing feed")
    p.add_argument("--snapshot-plan", default=None,
                   help="path of the persisted chunk plan JSON; created "
                   "from --snapshot-source on first run, re-loaded on "
                   "resume (chunk ranges must not re-plan after a crash)")
    p.add_argument("--snapshot-low-watermark", type=int, default=None,
                   help="source LSN at/before the snapshot read — stamped "
                   "on every chunk row (required when creating a plan)")
    p.add_argument("--snapshot-chunk-rows", type=int, default=1 << 20)
    p.add_argument("--snapshot-chunks-per-trigger", type=int, default=2)
    p.add_argument("--snapshot-chunk-col", default="conv_id")
    p.add_argument("--drift-cols", default=None,
                   help="comma-separated feed columns to drift-profile per "
                   "micro-batch (zero extra passes — rides the replay "
                   "observation); EW-baseline z-score alerts print as one "
                   "JSON line after a bounded sync. Streaming mode only.")
    p.add_argument("--schema-tests", action="store_true",
                   help="after a bounded sync, run the dbt-style data-"
                   "quality battery (unique pk, not-null key cols; SCD "
                   "battery on --scd-table) and exit 1 on failures — the "
                   "reference runs its generated dbt tests after each sync")
    args = p.parse_args(argv)

    spark = build_session()
    from .lake import merge_batch
    from .schemas import CHANGE_STRUCT, ORDER_COLS
    from .streaming.runner import ReplayConfig, bootstrap_table, run_replay_stream

    if args.feed_schema_ddl:
        from pyspark.sql import types as T

        feed_struct = T.StructType.fromDDL(args.feed_schema_ddl)
    else:
        feed_struct = CHANGE_STRUCT
    maintenance_policy = None
    if args.maintain_max_buckets is not None or args.maintain_max_mb is not None:
        from .lake import MaintenancePolicy

        maintenance_policy = MaintenancePolicy(
            max_buckets_per_cycle=args.maintain_max_buckets,
            max_bytes_per_cycle=(
                args.maintain_max_mb << 20
                if args.maintain_max_mb is not None
                else None
            ),
        )

    if args.reset:
        from .lake import LakeTable
        from .streaming.sync import reset_stream

        if not LakeTable.exists(args.table):
            raise SystemExit(f"--reset: no table at {args.table}")
        cfg = ReplayConfig(
            feed_dir=args.feed_dir,
            table_path=args.table,
            checkpoint_dir=args.checkpoint,
            app_id=args.app_id,
            scd_table_path=args.scd_table,
            child_tables_path=args.child_tables,
        )
        for path, version in reset_stream(spark, cfg).items():
            print(f"reset {path} at commit {version}")
        return

    if args.backfill:
        if args.snapshot_source or args.snapshot_plan:
            raise SystemExit(
                "--backfill and --snapshot-source/--snapshot-plan are "
                "alternative bootstrap modes: --backfill replays the feed "
                "in one batch; the snapshot flags chunk a SOURCE TABLE "
                "alongside the streaming tail. Pick one."
            )
        if args.drift_cols:
            raise SystemExit(
                "--drift-cols needs the per-micro-batch observation stream "
                "(a one-batch backfill has no baseline to drift from); "
                "drop the flag or run the streaming mode"
            )
        # one-shot batch replay (S4 snapshot); the post-sync blocks below
        # (--tail-to / --compact / --schema-tests) apply to it like any
        # bounded sync
        table = bootstrap_table(
            spark, args.table, n_buckets=args.n_buckets,
            feed_struct=feed_struct,
        )
        raw = spark.read.schema(feed_struct).parquet(f"{args.feed_dir}/*.parquet")
        from .plans.replay import prepare_changes

        _enrich = redact_pii_enrich() if args.redact_pii else (lambda df: df)
        _post = lambda df: _enrich(  # noqa: E731
            prepare_changes(df, canonicalize=not args.no_canonicalize)
        )
        merge_batch(
            table, raw, ORDER_COLS, app_id=args.app_id, batch_id=0,
            epoch=args.epoch, post_collapse=_post,
        )
    else:
        snapshot_plan_path = None
        if args.snapshot_source or args.snapshot_plan:
            import os

            from .sources.snapshot import SnapshotPlan, plan_snapshot

            snapshot_plan_path = args.snapshot_plan or (
                args.checkpoint.rstrip("/") + ".snapshot_plan.json"
            )
            if not os.path.exists(snapshot_plan_path):
                if args.snapshot_source is None:
                    raise SystemExit(
                        f"--snapshot-plan {snapshot_plan_path} does not "
                        "exist and no --snapshot-source was given to plan "
                        "from (a staged plan must be created first via "
                        "plan_snapshot/stage_chunks)"
                    )
                if args.snapshot_low_watermark is None:
                    raise SystemExit(
                        "--snapshot-low-watermark is required when creating "
                        "a new snapshot plan (the source LSN the chunk rows "
                        "are stamped with)"
                    )
                plan_snapshot(
                    spark.read.parquet(args.snapshot_source),
                    args.snapshot_chunk_col,
                    low_watermark=args.snapshot_low_watermark,
                    rows_per_chunk=args.snapshot_chunk_rows,
                    app_id=f"{args.app_id}-snapshot",
                ).save(snapshot_plan_path)
            else:
                # resume: ranges come from the persisted plan, never re-plan
                SnapshotPlan.load(snapshot_plan_path)
        cfg = ReplayConfig(
            feed_dir=args.feed_dir,
            table_path=args.table,
            checkpoint_dir=args.checkpoint,
            app_id=args.app_id,
            epoch=args.epoch,
            max_files_per_trigger=args.max_files_per_trigger,
            max_bytes_per_trigger=args.max_bytes_per_trigger,
            canonicalize=not args.no_canonicalize,
            strategy=args.strategy,
            compact_every_batches=args.compact_every,
            scd_table_path=args.scd_table,
            child_tables_path=args.child_tables,
            stream_name=args.stream_name,
            feed_struct=feed_struct,
            maintenance_policy=maintenance_policy,
            enrich=redact_pii_enrich() if args.redact_pii else None,
            snapshot_plan_path=snapshot_plan_path,
            snapshot_source_dir=args.snapshot_source,
            snapshot_chunks_per_trigger=args.snapshot_chunks_per_trigger,
            drift_cols=(
                # tolerate "a, b" / trailing commas: strip each token and
                # drop empties so the runner's membership check sees the
                # column names the user meant
                [c.strip() for c in args.drift_cols.split(",") if c.strip()]
                if args.drift_cols
                else None
            ),
        )
        # honor --n-buckets on the streaming path too: the runner's
        # bootstrap is open-if-exists, so creating here pins the layout
        bootstrap_table(
            spark, args.table, n_buckets=args.n_buckets,
            feed_struct=feed_struct,
        )
        if args.tail_to and args.continuous:
            # continuous mode: the hop runs inside the streaming loop,
            # under the SAME fence id as the bounded CLI hop so switching
            # modes resumes the edge instead of restarting it
            cfg.tail_to_path = args.tail_to
            cfg.tail_app_id = args.tail_app_id
        drift_listener = None
        if cfg.drift_cols:
            from .streaming import metrics as _metrics

            drift_listener = _metrics.attach(spark)
        # --continuous blocks here (the runner awaits); bounded runs
        # return once the feed is drained
        run_replay_stream(spark, cfg, available_now=not args.continuous)
        if drift_listener is not None:
            import json as _json

            from .streaming import metrics as _metrics
            from .streaming.drift import DriftDetector, alerts_from_listener

            # listener events are delivered async on the bus thread: wait
            # for the terminated event (posted AFTER the last progress
            # event, order-preserving per listener) so the final batch's
            # profile — the one most likely to carry the drift — is in
            # `progress` before we read it
            drift_listener.wait_terminated(30.0)
            _metrics.detach(spark, drift_listener)
            alerts = alerts_from_listener(
                drift_listener,
                DriftDetector(cols=list(cfg.drift_cols)),
                name=cfg.app_id,
            )
            print(_json.dumps({"drift_alerts": alerts}, default=str))
    if args.tail_to and not args.continuous:
        # BEFORE the compact block: compaction folds the sync's delta
        # files and vacuum removes them — a tail running after would find
        # its change sets gone and degrade to a full snapshot re-sync on
        # every run
        from .lake import LakeTable, tail_into
        from .streaming.runner import bootstrap_mirror

        src_table = LakeTable(spark, args.table)
        st = tail_into(
            src_table,
            bootstrap_mirror(spark, src_table, args.tail_to),
            app_id=args.tail_app_id,
        )
        print(
            f"tail: {args.table} -> {args.tail_to} "
            f"versions ({st.from_version}, {st.to_version}] "
            f"applied={st.applied} resyncs={st.resyncs}"
        )
    if args.compact and not args.continuous:
        from .lake import FOLD_ALL, LakeTable, maintain_until_clean

        # fold EVERY table the sync maintains (main + SCD history + child
        # streams) — the SCD table through the re-windowing fold, never a
        # plain compact (derived columns must be re-materialized)
        targets: list[tuple[LakeTable, bool]] = [
            (LakeTable(spark, args.table), False)
        ]
        if args.scd_table and LakeTable.exists(args.scd_table):
            # --backfill never creates the SCD table; guard like the
            # child tables instead of crashing on a missing _log dir
            targets.append((LakeTable(spark, args.scd_table), True))
        if args.child_tables:
            import os as _os

            for name in sorted(_os.listdir(args.child_tables)):
                p = _os.path.join(args.child_tables, name)
                if LakeTable.exists(p):
                    targets.append((LakeTable(spark, p), False))
        # unbudgeted, the sync's own commits are over: reclaim every
        # dereferenced file (no vacuum grace)
        policy = maintenance_policy or dataclasses.replace(
            FOLD_ALL, vacuum_grace_commits=0
        )
        for t, is_scd in targets:
            maintain_until_clean(t, policy, scd=is_scd)
    if args.schema_tests and not args.continuous:
        import json as _json
        import sys as _sys

        from .lake import LakeTable, run_schema_tests, scd_table_tests
        from .schemas import PK

        table = LakeTable(spark, args.table)
        report = run_schema_tests(
            table.read(), not_null=list(PK), unique=[list(PK)]
        )
        if args.scd_table and LakeTable.exists(args.scd_table):
            from .lake import read_scd

            scd_df = read_scd(LakeTable(spark, args.scd_table))
            report.update(
                {
                    f"scd_{r.test_name}": r.failing_rows
                    for r in scd_table_tests(scd_df, PK).collect()
                }
            )
        print(_json.dumps({"schema_tests": report}))
        if any(v for v in report.values()):
            _sys.exit(1)


if __name__ == "__main__":
    main()
