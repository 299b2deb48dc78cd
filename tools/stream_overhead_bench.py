"""Per-micro-batch metadata-overhead evidence at 500+ commits.

Round-1 verdict flagged the lake metadata layer (full commit-log replay +
driver file walking per merge) as O(commits) — the streaming scale-killer.
This bench replays one feed through 512 micro-batches of MOR ingest and
measures whether per-batch cost stays FLAT as the commit count grows:

* per-batch trigger durations: mean of an early window vs a late window
  (a flat ratio ≈ 1 means no O(commits) growth; round-1's design would
  degrade linearly),
* snapshot() cost at the end (log files parsed — bounded by the
  checkpoint interval),
* total streaming events/s vs single-shot batch replay of the same feed
  (micro-batch fixed costs — trigger planning, state-store commit — are
  Spark's floor, reported for context).

Usage: python tools/stream_overhead_bench.py [n_segments]
Appends a section to BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    args = [a for a in sys.argv[1:] if a != "--scd"]
    with_scd = "--scd" in sys.argv[1:]
    n_segments = int(args[0]) if args else 512

    from bench import cpu_calibration, get_spark, wait_for_quiet_host
    from airbyte_spark.feedgen import FeedSpec, generate_feed
    from airbyte_spark.lake import LakeTable
    from airbyte_spark.plans.replay import batch_replay
    from airbyte_spark.streaming import ReplayConfig, run_replay_stream
    from airbyte_spark.streaming.metrics import attach, detach

    calib = wait_for_quiet_host(threshold=1.0)
    work = "/tmp/airbyte_spark_bench/stream_overhead"
    feed = os.path.join(work, f"feed_{n_segments}")
    spec = FeedSpec(
        n_convs=20_000, turns_per_conv=8, n_updates=400_000, n_deletes=20_000,
        dup_rate=0.02, late_rate=0.02, hot_fraction=0.05,
        n_segments=n_segments, seed=7,
    )
    if not os.path.exists(os.path.join(feed, "_DONE")):
        shutil.rmtree(feed, ignore_errors=True)
        ev = generate_feed(feed, spec)
        with open(os.path.join(feed, "_DONE"), "w") as f:
            f.write(str(len(ev)))
    with open(os.path.join(feed, "_DONE")) as f:
        n_events = int(f.read())

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # WARMUP before timing the batch reference: the first job of a session
    # pays JVM/codegen spin-up and the pandas-UDF worker-pool spawn — a
    # fixed cost a long-lived cluster never sees. Timing batch cold but
    # the stream warm would bias the stream-vs-batch comparison in
    # streaming's favor (bench.py warms for the same reason).
    batch_replay(spark, feed).write.format("noop").mode("overwrite").save()

    # batch replay reference on the same feed (warm)
    t0 = time.time()
    batch_replay(spark, feed).write.format("noop").mode("overwrite").save()
    batch_sec = time.time() - t0

    lst = attach(spark)
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    cfg = ReplayConfig(
        feed_dir=feed,
        table_path=os.path.join(work, "out", "tbl"),
        checkpoint_dir=os.path.join(work, "out", "ck"),
        app_id="stream-overhead",
        max_files_per_trigger=1,   # one segment per micro-batch
        # every table, the --scd history table included, appends MOR deltas
        strategy="mor",
        compact_every_batches=64,
        # --scd: maintain the Type-2 history table per batch too
        scd_table_path=os.path.join(work, "out", "tbl_scd") if with_scd else None,
    )
    t0 = time.time()
    run_replay_stream(spark, cfg)
    stream_sec = time.time() - t0
    time.sleep(3)  # listener events are async

    every = cfg.compact_every_batches
    durs = [
        (r["batch_id"], r["duration_ms"].get("triggerExecution", 0))
        for r in lst.progress
        if r["name"] == "stream-overhead"
        and r["num_input_rows"] > 0
        # compaction batches pay the periodic fold on purpose — exclude
        # them from the steady-state window means (reported via totals)
        and not (every and (r["batch_id"] + 1) % every == 0)
    ]
    detach(spark, lst)
    durs.sort()
    n = len(durs)
    # compare windows far apart; skip the first few (JVM/codegen warmup)
    early = [d for _, d in durs[10 : 10 + n // 4]]
    late = [d for _, d in durs[-(n // 4) :]]
    early_ms = sum(early) / max(len(early), 1)
    late_ms = sum(late) / max(len(late), 1)

    table = LakeTable(spark, cfg.table_path)
    t0 = time.time()
    snap = table.snapshot()
    snap_sec = time.time() - t0
    scd_info = {}
    if with_scd:
        from airbyte_spark.lake.scd import read_scd

        scd_table = LakeTable(spark, cfg.scd_table_path)
        t0 = time.time()
        scd_rows = read_scd(scd_table).count()  # full MOR resolution
        scd_info = {
            "scd_history_rows": scd_rows,
            "scd_resolved_read_sec": round(time.time() - t0, 1),
            "scd_commit_version": scd_table.snapshot().version,
        }
    # post-run calibration bracket: the pre-run quiet check can be many
    # minutes stale by now — a storm arriving mid-stream must show up in
    # the recorded number (same policy as bench.py --replay-only)
    calib_post = cpu_calibration()
    calib_worst = round(max(calib, calib_post), 3)
    report = {
        "metric": "stream_overhead_500batch_scd" if with_scd else "stream_overhead_500batch",
        **scd_info,
        "n_micro_batches": n,
        "events": n_events,
        "batch_replay_sec": round(batch_sec, 1),
        "stream_sec": round(stream_sec, 1),
        "stream_events_per_sec": round(n_events / stream_sec, 1),
        "batch_events_per_sec": round(n_events / batch_sec, 1),
        "early_batch_ms": round(early_ms, 1),
        "late_batch_ms": round(late_ms, 1),
        "late_over_early": round(late_ms / early_ms, 3) if early_ms else None,
        "final_commit_version": snap.version,
        "snapshot_log_reads": table.last_snapshot_log_reads,
        "snapshot_sec": round(snap_sec, 4),
        "cpu_calibration_sec": calib_worst,
    }
    print(json.dumps(report))

    md = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(md, "a") as f:
        f.write(
            f"""

## {'SCD2-history ' if with_scd else ''}Metadata overhead at {n} micro-batches / {snap.version} commits ({datetime.now(timezone.utc).strftime('%Y-%m-%d %H:%M UTC')})

`python tools/stream_overhead_bench.py {n_segments}{' --scd' if with_scd else ''}` — {n_events:,} events through
{n} MOR micro-batches (compaction every 64{', Type-2 history table maintained per batch with append-only MOR deltas + scd_compact folds' if with_scd else ''}), cpu_calibration {calib_worst}s (worst of pre/post bracket):

| | value |
|---|---|
| per-batch trigger, early window mean | {early_ms:,.0f} ms |
| per-batch trigger, late window mean | {late_ms:,.0f} ms |
| late/early ratio (flat ≈ 1.0 ⇒ no O(commits) growth) | **{report['late_over_early']}** |
| snapshot() at commit {snap.version} | {snap_sec*1000:.0f} ms, {table.last_snapshot_log_reads} log files read |
| streaming throughput | {report['stream_events_per_sec']:,} events/s |
| batch replay same feed | {report['batch_events_per_sec']:,} events/s |

Round 1's design replayed the whole commit log and re-walked data files per
merge (O(commits) per batch — would grow ~linearly across this run); with
log checkpoints + cached snapshots + job-side file stats the late/early
ratio stays ≈ 1 and snapshot cost is bounded by the checkpoint interval.
The residual stream-vs-batch gap at {n_events // max(n,1):,}-event batches is
Spark's per-trigger floor (planning + state-store commit), amortized away
at production batch sizes (see the 5-batch MOR run above).
"""
        )
    print(f"appended {md}")
    spark.stop()


if __name__ == "__main__":
    main()
