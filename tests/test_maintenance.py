"""Lake maintenance: small-file compaction + vacuum, and the spark-submit
CLI entry point (batch backfill path)."""

import os

import pandas as pd
import pytest

from airbyte_spark.catalog import TableSchema
from airbyte_spark.feedgen import FeedSpec, generate_feed, oracle_final_state
from airbyte_spark.functions.text import canonicalize_pandas
from airbyte_spark.lake import LakeTable, merge_batch
from airbyte_spark.schemas import CHANGE_STRUCT, ORDER_COLS, PK, TRANSCRIPT_STRUCT
from tests.util import assert_same


def _mk_table(spark, path, n_buckets=4):
    return LakeTable.create(
        spark, str(path), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=n_buckets,
    )


def _merge_ev(spark, table, ev, batch_id):
    pdf = ev[[f.name for f in CHANGE_STRUCT.fields]]
    merge_batch(
        table, spark.createDataFrame(pdf, schema=CHANGE_STRUCT),
        ORDER_COLS, batch_id=batch_id,
    )


def test_compact_and_vacuum(spark, tmp_path, tmp_path_factory):
    feed = tmp_path_factory.mktemp("cfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=20, turns_per_conv=4, n_updates=120, n_deletes=15,
                 dup_rate=0.05, late_rate=0.05, n_segments=4, seed=11),
    )
    table = _mk_table(spark, tmp_path / "t")
    # bronze-style appends fragment buckets (each append adds a file era;
    # MERGE by contrast rewrites touched buckets wholesale, so it never
    # fragments — compaction targets append tables and partial-bucket eras)
    import numpy as np
    chunks = np.array_split(np.arange(len(ev)), 3)
    for idx in chunks:
        pdf = ev.iloc[idx][[f.name for f in CHANGE_STRUCT.fields]]
        table.append(
            spark.createDataFrame(pdf, schema=CHANGE_STRUCT).select(
                *[f.name for f in TRANSCRIPT_STRUCT.fields]
            )
        )
    _merge_ev(spark, table, ev.iloc[:0], 0)  # record a fence (empty batch)

    snap = table.snapshot()
    per_bucket = {}
    for p, m in snap.files.items():
        per_bucket.setdefault(m["bucket"], []).append(p)
    assert any(len(v) > 1 for v in per_bucket.values())  # fragmented
    before = table.read().toPandas()
    fences_before = snap.fences

    v = table.compact()
    snap2 = table.snapshot()
    per_bucket2 = {}
    for p, m in snap2.files.items():
        per_bucket2.setdefault(m["bucket"], []).append(p)
    assert all(len(v2) == 1 for v2 in per_bucket2.values())  # one file/bucket
    assert snap2.fences == fences_before  # fences survive compaction
    # contents identical (text disambiguates versions; exact dup rows are
    # byte-identical so their relative order is irrelevant)
    keys = ("conv_id", "turn_idx", "text")
    assert_same(table.read(), before, keys=keys)

    # old files still on disk until vacuum; vacuum removes exactly those
    removed = table.vacuum()
    assert set(removed) == set(snap.files) - set(snap2.files)
    for p in snap2.files:
        assert os.path.exists(os.path.join(table.path, p))
    # table still reads fine after vacuum
    assert table.read().count() == len(before)

    # a replayed batch_id is still fenced after compaction
    _merge_ev(spark, table, ev.iloc[:10], 0)  # batch_id 0 already committed
    assert table.read().count() == len(before)


def test_vacuum_is_commit_scoped_not_a_walk(spark, tmp_path, tmp_path_factory, monkeypatch):
    """Default vacuum derives candidates from the removes lists of commits
    since the last vacuum — it must delete exactly what the old full walk
    would, WITHOUT walking the data directory (O(total files) driver stall
    inside the streaming loop at scale). deep=True stays as the offline
    repair path for never-committed stray files."""
    feed = tmp_path_factory.mktemp("vfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=16, turns_per_conv=3, n_updates=80, n_deletes=10,
                 dup_rate=0.05, late_rate=0.05, n_segments=3, seed=31),
    )
    import numpy as np
    table = _mk_table(spark, tmp_path / "t")
    chunks = np.array_split(np.arange(len(ev)), 6)
    for i, idx in enumerate(chunks):
        _merge_ev(spark, table, ev.iloc[idx], i)  # COW: each merge orphans files
    snap = table.snapshot()
    live = set(snap.files)
    # expected orphans, computed independently by walking (test-side only)
    on_disk = set()
    for root, _dirs, names in os.walk(os.path.join(table.path, "data")):
        for nm in names:
            if nm.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(root, nm), table.path))
    expected = on_disk - live
    assert expected  # the merges really did orphan files

    # a stray file a crashed write job left behind: invisible to commits
    stray_dir = os.path.join(table.path, "data", "deadbeef", "_b=0")
    os.makedirs(stray_dir)
    stray = os.path.join(stray_dir, "part-00000-dead.parquet")
    with open(stray, "wb") as f:
        f.write(b"not really parquet")

    def _no_walk(*a, **k):
        raise AssertionError("default vacuum must not walk the data dir")

    import airbyte_spark.lake.table as table_mod
    monkeypatch.setattr(table_mod.os, "walk", _no_walk)
    removed = table.vacuum()
    monkeypatch.undo()
    assert set(removed) == expected  # same set as the walk, no walk
    assert os.path.exists(stray)  # never-committed file: out of scope
    # idempotent + incremental: marker advanced, nothing left to do
    assert table.vacuum() == []
    # deep repair reclaims the stray
    deep_removed = table.vacuum(deep=True)
    assert os.path.relpath(stray, table.path) in deep_removed
    assert table.read().count() == LakeTable(spark, table.path).read().count()


def test_vacuum_grace_defers_then_collects(spark, tmp_path, tmp_path_factory):
    """grace_commits protects recently-dereferenced files on the first
    pass; the marker stops at the horizon so the NEXT vacuum picks them
    up — nothing leaks."""
    feed = tmp_path_factory.mktemp("vgfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=10, turns_per_conv=3, n_updates=40, n_deletes=5,
                 dup_rate=0.0, late_rate=0.0, n_segments=2, seed=37),
    )
    import numpy as np
    table = _mk_table(spark, tmp_path / "t")
    chunks = np.array_split(np.arange(len(ev)), 4)
    for i, idx in enumerate(chunks):
        _merge_ev(spark, table, ev.iloc[idx], i)
    snap = table.snapshot()
    # files dereferenced by the LAST commit are inside the grace window
    import json as _json
    with open(table._log_path(snap.version)) as f:
        last_removes = set(
            os.path.normpath(p) for p in _json.load(f).get("removes", [])
        )
    assert last_removes
    removed1 = set(table.vacuum(grace_commits=1))
    assert removed1.isdisjoint(last_removes)  # protected this pass
    for p in last_removes:
        assert os.path.exists(os.path.join(table.path, p))
    # one more commit moves the horizon past them; they get collected now
    _merge_ev(spark, table, ev.iloc[:5], 99)
    removed2 = set(table.vacuum(grace_commits=1))
    assert last_removes <= removed2  # deferred, not leaked


def test_vacuum_grace_covers_rollback_rededereference(
    spark, tmp_path, tmp_path_factory
):
    """Edge (round-3 advisor): a file dereferenced by an OLD commit,
    re-added by rollback, then dereferenced AGAIN inside the grace window
    enters candidates via the old commit's removes — but it was last alive
    within the grace window, so a reader on a recent snapshot may still
    scan it. It must survive this vacuum pass and be collected by the
    next one (deferred, not leaked)."""
    feed = tmp_path_factory.mktemp("vrfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=8, turns_per_conv=3, n_updates=30, n_deletes=0,
                 dup_rate=0.0, late_rate=0.0, n_segments=2, seed=41),
    )
    table = _mk_table(spark, tmp_path / "t", n_buckets=1)
    _merge_ev(spark, table, ev.iloc[:20], 0)            # v1: adds F1
    f1 = set(table.snapshot().files)
    _merge_ev(spark, table, ev.iloc[20:40], 1)          # v2: removes F1
    assert f1.isdisjoint(table.snapshot().files)
    table.rollback(to_version=1)                        # v3: re-adds F1
    assert f1 <= set(table.snapshot().files)
    _merge_ev(spark, table, ev.iloc[20:40], 2)          # v4: removes F1 again
    snap = table.snapshot()
    assert snap.version == 4 and f1.isdisjoint(snap.files)

    # horizon = v3: F1 is a candidate via v2's removes, but v4 (inside the
    # grace window) dereferenced it — protected this pass
    removed1 = set(table.vacuum(grace_commits=1))
    assert removed1.isdisjoint(f1)
    for p in f1:
        assert os.path.exists(os.path.join(table.path, p))
    table.read().count()  # a reader on the recent snapshot still works

    # one more commit moves v4 under the horizon; F1 is collected now
    _merge_ev(spark, table, ev.iloc[:5], 3)             # v5
    removed2 = set(table.vacuum(grace_commits=1))
    assert f1 <= removed2


def test_snapshot_ignores_stray_log_files(spark, tmp_path, tmp_path_factory):
    """An editor artifact / marker file in _log must not break reads or
    get deleted by log expiry (advisor: int() parse on every file)."""
    feed = tmp_path_factory.mktemp("slfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=6, turns_per_conv=2, n_updates=10, n_deletes=2,
                 dup_rate=0.0, late_rate=0.0, n_segments=1, seed=41),
    )
    table = _mk_table(spark, tmp_path / "t")
    _merge_ev(spark, table, ev, 0)
    stray = os.path.join(table.path, "_log", "_last_checkpoint")
    with open(stray, "w") as f:
        f.write("{}")
    fresh = LakeTable(spark, table.path)
    assert fresh.snapshot().version >= 1  # read survives the stray file
    fresh._expire_logs(keep_from=1)
    assert os.path.exists(stray)  # expiry never touches non-numeric names
    assert fresh.read().count() > 0


def test_partition_lineage(spark, tmp_path, tmp_path_factory):
    feed = tmp_path_factory.mktemp("plfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=10, turns_per_conv=3, n_updates=30, n_deletes=4,
                 dup_rate=0.0, late_rate=0.0, n_segments=2, seed=17),
    )
    table = _mk_table(spark, tmp_path / "t")
    _merge_ev(spark, table, ev, 0)
    pl = table.partition_lineage_df().toPandas()
    assert len(pl) >= 1
    # per-bucket rows sum to the collapsed key count; high-watermark = feed max
    assert pl["rows"].sum() == ev.groupby(["conv_id", "turn_idx"]).ngroups
    assert pl["max_lsn"].max() == ev["_ab_cdc_lsn"].max()
    assert (pl["bucket"] >= 0).all() and (pl["bucket"] < 4).all()


def test_snapshot_cost_bounded_at_many_commits(spark, tmp_path):
    """500+ commits: snapshot() must read O(checkpoint_interval) log files,
    not O(commits); lineage is folded but totals/watermarks stay exact;
    expired log files bound the directory itself."""
    table = _mk_table(spark, tmp_path / "t")
    snap = table.snapshot()
    for i in range(520):
        table.commit(
            snap, [], [], fence=("app", i),
            lineage={
                "app_id": "app", "batch_id": i, "rows_in": 1,
                "rows_upserted": 1, "rows_deleted": 0, "max_lsn": i,
                "epoch": None,
                "partitions": {"0": {"rows": 1, "deletes": 0, "max_lsn": i}},
            },
        )
        snap = table.snapshot()
    assert snap.version == 520

    fresh = LakeTable(spark, table.path)
    s2 = fresh.snapshot()
    # cost contract: one checkpoint + at most one interval of tail commits
    assert fresh.last_snapshot_log_reads <= LakeTable.DEFAULT_CHECKPOINT_INTERVAL + 1
    assert s2.fences["app"] == 519
    assert len(s2.lineage) <= (
        LakeTable.DEFAULT_LINEAGE_RETAIN + LakeTable.DEFAULT_CHECKPOINT_INTERVAL
    )
    tot = fresh.lineage_totals()
    assert tot["rows_in"] == 520 and tot["max_lsn"] == 519 and tot["commits"] == 520
    wm = fresh.partition_watermarks()
    assert wm[0]["rows"] == 520 and wm[0]["max_lsn"] == 519
    # unchanged table: cached snapshot, zero log reads
    fresh.snapshot()
    assert fresh.last_snapshot_log_reads == 0
    # log expiry bounds the directory
    n_log_files = len(os.listdir(os.path.join(table.path, "_log")))
    assert n_log_files <= 4 * LakeTable.DEFAULT_CHECKPOINT_INTERVAL


def test_reads_and_fences_correct_across_checkpoints(spark, tmp_path, tmp_path_factory):
    """Merges crossing several checkpoint boundaries: data reads, MOR
    resolution metadata (per-file commit version) and fences all survive
    the checkpoint/expiry cycle byte-for-byte."""
    feed = tmp_path_factory.mktemp("ckfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=12, turns_per_conv=3, n_updates=80, n_deletes=10,
                 dup_rate=0.05, late_rate=0.05, n_segments=2, seed=23),
    )
    import numpy as np
    table = _mk_table(spark, tmp_path / "t")
    chunks = np.array_split(np.arange(len(ev)), 40)  # 40 merges > 2 intervals
    for i, idx in enumerate(chunks):
        pdf = ev.iloc[idx][[f.name for f in CHANGE_STRUCT.fields]]
        merge_batch(
            table, spark.createDataFrame(pdf, schema=CHANGE_STRUCT),
            ORDER_COLS, batch_id=i, strategy="mor" if i % 2 else "cow",
        )
    fresh = LakeTable(spark, table.path)
    assert fresh.last_snapshot_log_reads == 0 or True  # (set by snapshot below)
    assert_same(fresh.read(), oracle_final_state(ev))
    assert fresh.last_snapshot_log_reads <= LakeTable.DEFAULT_CHECKPOINT_INTERVAL + 1
    # fences from commits folded into the checkpoint still block replays
    n_before = fresh.read().count()
    pdf = ev.iloc[:20][[f.name for f in CHANGE_STRUCT.fields]]
    stats = merge_batch(
        fresh, spark.createDataFrame(pdf, schema=CHANGE_STRUCT),
        ORDER_COLS, batch_id=0,
    )
    assert stats.skipped and fresh.read().count() == n_before


def test_rebucket_layout_evolution(spark, tmp_path, tmp_path_factory):
    """Bucket-count evolution mid-life: rewrite under a new layout, then
    keep merging — reads stay correct and new merges prune on the NEW
    bucketing (including folding any pending MOR deltas)."""
    import numpy as np
    from airbyte_spark.feedgen import oracle_final_state as _orc

    feed = tmp_path_factory.mktemp("rbfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=20, turns_per_conv=4, n_updates=100, n_deletes=12,
                 dup_rate=0.05, late_rate=0.05, n_segments=2, seed=61),
    )
    table = _mk_table(spark, tmp_path / "t", n_buckets=4)
    halves = np.array_split(np.arange(len(ev)), 2)
    pdf0 = ev.iloc[halves[0]][[f.name for f in CHANGE_STRUCT.fields]]
    merge_batch(table, spark.createDataFrame(pdf0, schema=CHANGE_STRUCT),
                ORDER_COLS, batch_id=0, strategy="mor")

    table.rebucket(8)
    snap = table.snapshot()
    assert snap.n_buckets == 8
    assert {m["bucket"] for m in snap.files.values()} <= set(range(8))
    assert {m["kind"] for m in snap.files.values()} == {"base"}  # deltas folded
    assert_same(table.read(), _orc(ev.iloc[halves[0]]),
                keys=("conv_id", "turn_idx", "text"))

    pdf1 = ev.iloc[halves[1]][[f.name for f in CHANGE_STRUCT.fields]]
    stats = merge_batch(table, spark.createDataFrame(pdf1, schema=CHANGE_STRUCT),
                        ORDER_COLS, batch_id=1)
    assert 0 < stats.touched_buckets <= 8
    assert_same(table.read(), _orc(ev), keys=("conv_id", "turn_idx", "text"))
    # a reopened handle sees the evolved layout from the log
    fresh = LakeTable(spark, table.path)
    assert fresh.snapshot().n_buckets == 8


def test_job_cli_backfill(spark, tmp_path, tmp_path_factory):
    feed = tmp_path_factory.mktemp("jfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=10, turns_per_conv=3, n_updates=40, n_deletes=5,
                 dup_rate=0.05, late_rate=0.05, n_segments=2, seed=13),
    )
    from airbyte_spark import job

    # drive main() with an existing session (build_session getOrCreate
    # returns the test session)
    job.main([
        "--feed-dir", str(feed),
        "--table", str(tmp_path / "tbl"),
        "--checkpoint", str(tmp_path / "ck"),
        "--backfill", "--n-buckets", "4",
    ])
    table = LakeTable(spark, str(tmp_path / "tbl"))
    assert_same(table.read(), oracle_final_state(ev, canonicalize=canonicalize_pandas))


def test_job_cli_schema_tests_gate(spark, tmp_path, tmp_path_factory):
    """--schema-tests: green sync exits cleanly; a corrupted final table
    (duplicate pk rows injected) makes the gate exit 1 — the reference's
    post-sync generated dbt test run."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    feed = tmp_path_factory.mktemp("jqfeed")
    generate_feed(
        str(feed),
        FeedSpec(n_convs=8, turns_per_conv=2, n_updates=20, n_deletes=3,
                 dup_rate=0.05, late_rate=0.05, n_segments=2, seed=21),
    )
    from airbyte_spark import job

    args = [
        "--feed-dir", str(feed),
        "--table", str(tmp_path / "tbl"),
        "--checkpoint", str(tmp_path / "ck"),
        "--scd-table", str(tmp_path / "scd"),
        "--n-buckets", "4", "--strategy", "mor",
        "--schema-tests",
    ]
    job.main(args)  # green battery: returns without SystemExit

    # corrupt: inject a NULL-pk row (a dup would be HEALED by the lake's
    # latest-per-key resolution — by design)
    table = LakeTable(spark, str(tmp_path / "tbl"))
    bad = table.read().limit(1).withColumn("conv_id", F.lit(None).cast("string"))
    table.append(bad)
    with _pytest.raises(SystemExit):
        job.main([*args, "--app-id", "second-pass"])


# ---------------------------------------------------------------- budgeted


def _fragment_table(spark, table, ev, n_chunks=4):
    import numpy as np
    for idx in np.array_split(np.arange(len(ev)), n_chunks):
        pdf = ev.iloc[idx][[f.name for f in CHANGE_STRUCT.fields]]
        table.append(
            spark.createDataFrame(pdf, schema=CHANGE_STRUCT).select(
                *[f.name for f in TRANSCRIPT_STRUCT.fields]
            )
        )


def test_budgeted_maintain_converges(spark, tmp_path, tmp_path_factory):
    """maintain() under a 1-bucket-per-cycle budget: each cycle rewrites at
    most one bucket, defers the rest, and repeated cycles converge to the
    same state the blunt compact() produces — contents identical, one file
    per bucket, orphans reclaimed."""
    from airbyte_spark.lake import MaintenancePolicy, maintain, maintain_until_clean, plan_maintenance

    feed = tmp_path_factory.mktemp("bmfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=24, turns_per_conv=4, n_updates=100, n_deletes=10,
                 dup_rate=0.05, late_rate=0.05, n_segments=4, seed=19),
    )
    table = _mk_table(spark, tmp_path / "t", n_buckets=4)
    _fragment_table(spark, table, ev, n_chunks=4)
    before = table.read().toPandas()

    # new add-entries carry on-disk byte sizes for the planner
    snap = table.snapshot()
    assert all(m.get("bytes", 0) > 0 for m in snap.files.values())
    frag_buckets = {m["bucket"] for m in snap.files.values()}
    assert len(frag_buckets) == 4

    policy = MaintenancePolicy(min_files=2, max_buckets_per_cycle=1)
    chosen, deferred, stats = plan_maintenance(table, policy)
    assert len(chosen) == 1 and len(deferred) == 3
    # worst-fragmented bucket first
    assert stats[chosen[0]]["files"] == max(s["files"] for s in stats.values())

    r1 = maintain(table, policy)
    assert r1.compacted == chosen and len(r1.deferred) == 3
    assert r1.bytes_rewritten > 0 and r1.files_rewritten >= 2
    # grace=2 protects the just-dereferenced files (a reader on a recent
    # snapshot may still be scanning them) — reclaimed by later cycles
    assert r1.vacuumed_files == 0

    reports = maintain_until_clean(table, policy)
    assert reports[-1].compacted == []  # terminated clean
    assert sum(r.vacuumed_files for r in reports) >= 1  # reclaim caught up
    snap2 = table.snapshot()
    per_bucket = {}
    for p, m in snap2.files.items():
        per_bucket.setdefault(m["bucket"], []).append(p)
    assert all(len(v) == 1 for v in per_bucket.values())
    keys = ("conv_id", "turn_idx", "text")
    assert_same(table.read(), before, keys=keys)
    # after the grace window drains, disk holds exactly the live files
    table.vacuum(grace_commits=0)
    on_disk = set()
    for root, _dirs, names in os.walk(os.path.join(table.path, "data")):
        for nm in names:
            if nm.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(root, nm), table.path))
    assert on_disk == set(snap2.files)
    # nothing left to do: planner finds no candidates
    chosen3, deferred3, _ = plan_maintenance(table, policy)
    assert chosen3 == [] and deferred3 == []


def test_plan_prioritizes_deltas_and_respects_budgets(spark, tmp_path):
    """Planner unit contract over synthetic snapshot metadata: buckets
    carrying MOR delta files outrank merely-fragmented buckets (deltas tax
    every read with collapse work; fragments only cost opens); the
    bucket-count and byte budgets bound the chosen set; and the FIRST
    bucket is always admitted even when it alone exceeds the byte budget,
    so one oversized bucket can't deadlock maintenance."""
    from airbyte_spark.lake import MaintenancePolicy, plan_maintenance

    table = _mk_table(spark, tmp_path / "t", n_buckets=8)
    snap = table.snapshot()
    # bucket 0: 2 files 1 delta / 1: 6 base files / 2: 3 base / 3: 1 base
    fake = {}
    sizes = {0: 100, 1: 50, 2: 40, 3: 10}
    counts = {0: 2, 1: 6, 2: 3, 3: 1}
    deltas = {0: 1, 1: 0, 2: 0, 3: 0}
    for b, n in counts.items():
        for i in range(n):
            fake[f"data/x/_b={b}/f{i}.parquet"] = {
                "bucket": b, "schema_id": 0, "rows": 1,
                "kind": "delta" if i < deltas[b] else "base",
                "bytes": sizes[b],
            }
    snap.files.clear()
    snap.files.update(fake)

    # delta bucket first, then most-fragmented; bucket 3 is healthy
    chosen, deferred, stats = plan_maintenance(
        table, MaintenancePolicy(min_files=3, max_buckets_per_cycle=None,
                                 max_bytes_per_cycle=None), snap=snap)
    assert chosen == [0, 1, 2] and deferred == []
    # count budget
    chosen, deferred, _ = plan_maintenance(
        table, MaintenancePolicy(min_files=3, max_buckets_per_cycle=2,
                                 max_bytes_per_cycle=None), snap=snap)
    assert chosen == [0, 1] and deferred == [2]
    # byte budget: bucket 0 costs 200, bucket 1 would add 300 > 250 cap
    chosen, deferred, _ = plan_maintenance(
        table, MaintenancePolicy(min_files=3, max_buckets_per_cycle=None,
                                 max_bytes_per_cycle=250), snap=snap)
    assert chosen == [0] and deferred == [1, 2]
    # oversized first bucket still admitted (no deadlock)
    chosen, deferred, _ = plan_maintenance(
        table, MaintenancePolicy(min_files=3, max_buckets_per_cycle=None,
                                 max_bytes_per_cycle=1), snap=snap)
    assert chosen == [0] and deferred == [1, 2]


def test_budgeted_maintain_mor_merge_table_converges(
    spark, tmp_path, tmp_path_factory
):
    """Budgeted cycles over a MOR merge table: every intermediate state
    (deltas partially folded) still reads exactly the oracle final state,
    and the loop terminates with all-base one-file buckets."""
    import numpy as np
    from airbyte_spark.lake import MaintenancePolicy, maintain_until_clean

    feed = tmp_path_factory.mktemp("bdfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=24, turns_per_conv=4, n_updates=100, n_deletes=10,
                 dup_rate=0.05, late_rate=0.05, n_segments=4, seed=23),
    )
    table = _mk_table(spark, tmp_path / "t", n_buckets=4)
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 4)):
        pdf = ev.iloc[idx][[f.name for f in CHANGE_STRUCT.fields]]
        merge_batch(
            table, spark.createDataFrame(pdf, schema=CHANGE_STRUCT),
            ORDER_COLS, batch_id=i, strategy="mor",
        )
    oracle = oracle_final_state(ev)
    keys = ("conv_id", "turn_idx", "text")
    policy = MaintenancePolicy(min_files=2, max_buckets_per_cycle=1)
    from airbyte_spark.lake import maintain

    # one bounded cycle: partially-folded table still reads exact
    r1 = maintain(table, policy)
    assert len(r1.compacted) == 1 and r1.deferred
    assert_same(table.read(), oracle, keys=keys)

    maintain_until_clean(table, policy)
    snap = table.snapshot()
    assert {m["kind"] for m in snap.files.values()} == {"base"}
    per_bucket = {}
    for p, m in snap.files.items():
        per_bucket.setdefault(m["bucket"], []).append(p)
    assert all(len(v) == 1 for v in per_bucket.values())
    assert_same(table.read(), oracle, keys=keys)


def test_budgeted_maintain_scd_history(spark, tmp_path, tmp_path_factory):
    """maintain(scd=True) folds delta buckets through the re-windowing
    scd_compact (never plain compaction: derived columns must be
    re-materialized) one budgeted cycle at a time; after every cycle
    read_scd stays byte-equal to the full batch scd2 build, and the final
    clean table serves it from a plain scan."""
    import numpy as np
    from airbyte_spark.lake import MaintenancePolicy, maintain_until_clean
    from airbyte_spark.lake.scd import bootstrap_scd_table, read_scd, scd_merge_batch
    from airbyte_spark.operators.dedup import scd2
    from airbyte_spark.operators.skew import salted_scd2_input
    from airbyte_spark.plans.replay import prepare_changes
    from airbyte_spark.schemas import CURSOR

    feed = tmp_path_factory.mktemp("bsfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=20, turns_per_conv=4, n_updates=120, n_deletes=15,
                 dup_rate=0.08, late_rate=0.08, n_segments=5, seed=29),
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    table = bootstrap_scd_table(
        spark, str(tmp_path / "scd"), CHANGE_STRUCT, PK, bucket_cols=["conv_id"],
        n_buckets=4,
    )
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 3)):
        scd_merge_batch(
            table, spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT),
            PK, app_id="bm", batch_id=i, post_dedup=prepare_changes, strategy="mor",
        )
    raw = spark.createDataFrame(ev[cols], schema=CHANGE_STRUCT)
    expected = scd2(
        prepare_changes(salted_scd2_input(raw, PK, CURSOR)), PK, CURSOR
    ).toPandas()
    keys = ("conv_id", "turn_idx", "_airbyte_start_at")

    policy = MaintenancePolicy(min_files=1, max_buckets_per_cycle=1)
    reports = maintain_until_clean(table, policy, scd=True)
    assert len([r for r in reports if r.compacted]) >= 2  # really incremental
    for _ in reports:
        pass
    snap = table.snapshot()
    assert {m["kind"] for m in snap.files.values()} == {"base"}
    assert_same(read_scd(table), expected, keys=keys)
    assert_same(table.read(), expected, keys=keys)  # materialized, plain scan


def test_streaming_cadence_uses_policy(spark, tmp_path, tmp_path_factory):
    """run_replay_stream with maintenance_policy: the compaction cadence
    runs budgeted cycles instead of blunt full compaction; end state still
    matches the oracle and the per-cycle rewrite stays within budget."""
    from airbyte_spark.lake import MaintenancePolicy
    from airbyte_spark.streaming import ReplayConfig, run_replay_stream

    feed = tmp_path_factory.mktemp("smfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=20, turns_per_conv=4, n_updates=120, n_deletes=15,
                 dup_rate=0.05, late_rate=0.05, n_segments=5, seed=43),
    )
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        max_files_per_trigger=1,
        strategy="mor",
        compact_every_batches=2,
        maintenance_policy=MaintenancePolicy(min_files=2, max_buckets_per_cycle=2),
    )
    run_replay_stream(spark, cfg)
    table = LakeTable(spark, cfg.table_path)
    assert_same(
        table.read(),
        oracle_final_state(ev, canonicalize=canonicalize_pandas),
    )


def test_sorted_compaction(spark, tmp_path, tmp_path_factory):
    """Table sort order (Iceberg write.sort-order analog) applied at
    rewrite time: after compact(), every base file's rows are clustered on
    the sort columns (verified from the raw parquet bytes), contents are
    unchanged, and the hot write path never paid a per-batch sort."""
    import numpy as np
    import pyarrow.parquet as pq

    feed = tmp_path_factory.mktemp("sofeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=24, turns_per_conv=4, n_updates=100, n_deletes=10,
                 dup_rate=0.05, late_rate=0.05, n_segments=4, seed=47),
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=4,
        sort_cols=["conv_id", "turn_idx"],
    )
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 4)):
        pdf = ev.iloc[idx][[f.name for f in CHANGE_STRUCT.fields]]
        merge_batch(
            table, spark.createDataFrame(pdf, schema=CHANGE_STRUCT),
            ORDER_COLS, batch_id=i, strategy="mor",
        )
    before = table.read().toPandas()

    table.compact()
    snap = table.snapshot()
    assert snap.sort_cols == ["conv_id", "turn_idx"]
    for p in snap.files:
        t = pq.read_table(
            os.path.join(table.path, p), columns=["conv_id", "turn_idx"]
        ).to_pandas()
        assert (
            t.sort_values(["conv_id", "turn_idx"], kind="stable")
            .reset_index(drop=True)
            .equals(t.reset_index(drop=True))
        ), f"{p} not clustered on sort order"
    keys = ("conv_id", "turn_idx", "text")
    assert_same(table.read(), before, keys=keys)

    # survives rebucket (sorted under the new layout) and a fresh handle
    table.rebucket(8)
    fresh = LakeTable(spark, table.path)
    assert fresh.snapshot().sort_cols == ["conv_id", "turn_idx"]
    for p in fresh.snapshot().files:
        t = pq.read_table(
            os.path.join(table.path, p), columns=["conv_id", "turn_idx"]
        ).to_pandas()
        assert (
            t.sort_values(["conv_id", "turn_idx"], kind="stable")
            .reset_index(drop=True)
            .equals(t.reset_index(drop=True))
        )
    assert_same(fresh.read(), before, keys=keys)

    # unknown sort column is rejected at create time
    import pytest as _pytest
    with _pytest.raises(ValueError):
        LakeTable.create(
            spark, str(tmp_path / "bad"),
            TableSchema.from_struct(TRANSCRIPT_STRUCT),
            primary_key=list(PK), sort_cols=["nope"],
        )


def test_job_cli_compact_folds_all_tables(spark, tmp_path, tmp_path_factory):
    """--compact after a bounded MOR sync with --scd-table: BOTH tables end
    delta-free, the SCD table via the re-windowing fold (derived columns
    materialized, read_scd fast path exact)."""
    from airbyte_spark import job
    from airbyte_spark.lake import read_scd

    feed = tmp_path_factory.mktemp("jcfeed")
    generate_feed(
        str(feed),
        FeedSpec(n_convs=10, turns_per_conv=3, n_updates=40, n_deletes=5,
                 dup_rate=0.05, late_rate=0.05, n_segments=3, seed=53),
    )
    job.main([
        "--feed-dir", str(feed),
        "--table", str(tmp_path / "tbl"),
        "--checkpoint", str(tmp_path / "ck"),
        "--scd-table", str(tmp_path / "scd"),
        "--n-buckets", "4", "--strategy", "mor",
        "--max-files-per-trigger", "1",
        "--compact",
    ])
    for p in ("tbl", "scd"):
        snap = LakeTable(spark, str(tmp_path / p)).snapshot()
        kinds = {m["kind"] for m in snap.files.values()}
        assert kinds == {"base"}, f"{p}: deltas left unfolded ({kinds})"
    scd = LakeTable(spark, str(tmp_path / "scd"))
    hist = read_scd(scd).toPandas()
    assert hist["_airbyte_active_row"].notna().all()  # materialized


def test_plan_maintenance_lazy_legacy_byte_stats(spark, tmp_path, monkeypatch):
    """Legacy add-entries without recorded bytes are stat'd LAZILY: no
    byte budget -> zero getsize calls; with a byte budget only the buckets
    the greedy admission actually inspects are stat'd — never the whole
    snapshot (that would be O(all legacy files) of driver I/O per cycle,
    repeated forever for deferred buckets)."""
    from airbyte_spark.lake import MaintenancePolicy, plan_maintenance
    from airbyte_spark.lake import maintenance as M

    table = _mk_table(spark, tmp_path / "t", n_buckets=8)
    snap = table.snapshot()
    fake = {}
    for b in range(6):
        for i in range(5):  # all buckets fragmented, none with sizes
            fake[f"data/x/_b={b}/f{i}.parquet"] = {
                "bucket": b, "schema_id": 0, "rows": 1, "kind": "base",
            }
    snap.files.clear()
    snap.files.update(fake)

    calls = []
    monkeypatch.setattr(
        M.os.path, "getsize", lambda p: (calls.append(p), 7)[1]
    )

    chosen, deferred, _ = plan_maintenance(
        table,
        MaintenancePolicy(min_files=3, max_buckets_per_cycle=2,
                          max_bytes_per_cycle=None),
        snap=snap,
    )
    assert chosen == [0, 1] and deferred == [2, 3, 4, 5]
    assert calls == []  # no byte budget -> no byte stats at all

    chosen, deferred, _ = plan_maintenance(
        table,
        MaintenancePolicy(min_files=3, max_buckets_per_cycle=2,
                          max_bytes_per_cycle=10**9),
        snap=snap,
    )
    assert chosen == [0, 1]
    assert len(calls) == 10  # only the two admitted buckets' files


# ---------------------------------------------------------------- one path
#
# The streaming cadence and ``job.py --compact`` fold every table through
# ``maintain``; with no policy they use FOLD_ALL (``--compact`` with no
# vacuum grace). The twin-table tests
# below check that FOLD_ALL does exactly what a plain ``compact()`` /
# ``scd_compact()`` plus ``vacuum(grace_commits=2)`` does: each pair of
# tables starts as byte copies of one table (same file names), then one
# twin is maintained and the other folded by hand.


def _twin(spark, table, path):
    import shutil

    shutil.copytree(table.path, str(path))
    return LakeTable(spark, str(path))


def _commit_entry(table, version):
    import json

    with open(table._log_path(version)) as f:
        return json.load(f)


def _disk_listing(table):
    out = []
    for root, _dirs, names in os.walk(os.path.join(table.path, "data")):
        out += [
            os.path.relpath(os.path.join(root, nm), table.path)
            for nm in names if nm.endswith(".parquet")
        ]
    return out


def _disk_files(table, before):
    """Parquet files on disk: names in ``before`` as-is, files written
    since as (bucket dir, "new") — rewrites get fresh uuid names, so twins
    compare by how many new files each bucket holds."""
    import collections

    return collections.Counter(
        rel if rel in before else (os.path.basename(os.path.dirname(rel)), "new")
        for rel in _disk_listing(table)
    )


def _files_per_bucket(snap):
    per_bucket = {}
    for p, m in snap.files.items():
        per_bucket.setdefault(m["bucket"], []).append(p)
    return per_bucket


def test_fold_all_matches_compact_and_vacuum_on_mor_table(
    spark, tmp_path, tmp_path_factory
):
    """maintain(t, FOLD_ALL) on a fragmented MOR table == t.compact();
    t.vacuum(grace_commits=2): the same buckets rewritten by one compact
    commit, one file per bucket, the same resolved rows and the same files
    left on disk. Buckets holding deltas and delta-free buckets holding two
    base files are folded; healthy buckets (one base file) are left
    alone."""
    from airbyte_spark.lake import FOLD_ALL, maintain

    feed = tmp_path_factory.mktemp("fafeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=24, turns_per_conv=4, n_updates=100, n_deletes=10,
                 dup_rate=0.05, late_rate=0.05, n_segments=4, seed=61),
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    table = _mk_table(spark, tmp_path / "a", n_buckets=8)

    def mor(pdf, batch_id):
        merge_batch(
            table, spark.createDataFrame(pdf[cols], schema=CHANGE_STRUCT),
            ORDER_COLS, batch_id=batch_id, strategy="mor",
        )

    half = len(ev) // 2
    mor(ev.iloc[:half], 0)
    table.compact()  # every bucket now one base file
    # later batches touch only a few conversations: some buckets gain
    # deltas, the rest stay healthy
    rest = ev.iloc[half:]
    convs = sorted(rest["conv_id"].unique())
    mor(rest[rest["conv_id"].isin(convs[:2])], 1)
    mor(rest[rest["conv_id"].isin(convs[2:3])], 2)
    mor(rest[rest["conv_id"].isin(convs[:1])], 3)
    delta_buckets = {
        m["bucket"] for m in table.snapshot().files.values()
        if m["kind"] == "delta"
    }
    # and one delta-free bucket gets a second base file: an appended new
    # conversation that hashes outside the delta buckets
    cands = pd.DataFrame({"conv_id": [f"fresh-{i}" for i in range(32)]})
    fresh_id = next(
        r["conv_id"]
        for r in spark.createDataFrame(cands)
        .select("conv_id", table.bucket_expr(table.snapshot()).alias("b"))
        .collect()
        if r["b"] not in delta_buckets
    )
    fresh = ev[ev["_ab_cdc_deleted_at"].isna()].iloc[:1].copy()
    fresh["conv_id"] = fresh_id
    fresh["_ab_cdc_lsn"] = int(ev["_ab_cdc_lsn"].max()) + 1
    table.append(
        spark.createDataFrame(fresh[cols], schema=CHANGE_STRUCT),
        lsn_col="_ab_cdc_lsn",
    )
    applied = pd.concat([
        ev.iloc[:half], rest[rest["conv_id"].isin(convs[:3])], fresh
    ])

    twin = _twin(spark, table, tmp_path / "b")
    snap0 = table.snapshot()
    before = set(_disk_listing(table))
    per_bucket0 = _files_per_bucket(snap0)
    base_fragmented = {
        b for b, v in per_bucket0.items()
        if len(v) >= 2 and b not in delta_buckets
    }
    assert delta_buckets and base_fragmented
    assert len(per_bucket0) > len(delta_buckets | base_fragmented)

    report = maintain(table, FOLD_ALL)
    v_twin = twin.compact()
    removed_twin = twin.vacuum(grace_commits=2)

    assert report.version == v_twin == snap0.version + 1
    ea, eb = _commit_entry(table, report.version), _commit_entry(twin, v_twin)
    assert ea["op"] == eb["op"] == "compact"
    assert sorted(ea["removes"]) == sorted(eb["removes"])
    rewritten = sorted({snap0.files[p]["bucket"] for p in eb["removes"]})
    assert report.compacted == rewritten
    assert set(rewritten) == delta_buckets | base_fragmented
    assert report.files_rewritten == len(eb["removes"])
    assert report.vacuumed_files == len(removed_twin) > 0

    snap_a, snap_b = table.snapshot(), twin.snapshot()
    assert all(len(v) == 1 for v in _files_per_bucket(snap_a).values())
    assert {b: len(v) for b, v in _files_per_bucket(snap_a).items()} == {
        b: len(v) for b, v in _files_per_bucket(snap_b).items()
    }
    assert {m["kind"] for m in snap_a.files.values()} == {"base"}
    keys = ("conv_id", "turn_idx", "text")
    assert_same(table.read(), twin.read().toPandas(), keys=keys)
    assert_same(table.read(), oracle_final_state(applied), keys=keys)
    assert _disk_files(table, before) == _disk_files(twin, before)


def _scd_twins(spark, tmp_path, tmp_path_factory, strategy, n_batches):
    import numpy as np
    from airbyte_spark.lake.scd import bootstrap_scd_table, scd_merge_batch
    from airbyte_spark.plans.replay import prepare_changes

    feed = tmp_path_factory.mktemp(f"fs{strategy}feed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=16, turns_per_conv=3, n_updates=80, n_deletes=10,
                 dup_rate=0.05, late_rate=0.05, n_segments=4, seed=67),
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    hist = bootstrap_scd_table(
        spark, str(tmp_path / "a"), CHANGE_STRUCT, PK,
        bucket_cols=["conv_id"], n_buckets=4,
    )
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), n_batches)):
        scd_merge_batch(
            hist, spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT),
            PK, app_id="fa", batch_id=i, post_dedup=prepare_changes,
            strategy=strategy,
        )
    return hist, _twin(spark, hist, tmp_path / "b")


def test_fold_all_matches_scd_compact_on_mor_history(
    spark, tmp_path, tmp_path_factory
):
    """maintain(h, FOLD_ALL, scd=True) on a MOR history table ==
    scd_compact(h); h.vacuum(grace_commits=2): the same read_scd, no
    deltas left, and only the re-windowing fold commits (never a plain
    compact, which would materialize NULL derived columns)."""
    from airbyte_spark.lake import FOLD_ALL, maintain, read_scd, scd_compact

    hist, twin = _scd_twins(spark, tmp_path, tmp_path_factory, "mor", 3)
    v0 = hist.snapshot().version
    before = set(_disk_listing(hist))

    report = maintain(hist, FOLD_ALL, scd=True)
    v_twin = scd_compact(twin)
    removed_twin = twin.vacuum(grace_commits=2)

    assert report.version == v_twin
    assert [op for _v, op in hist.commit_ops(v0)] == ["scd_compact"]
    assert [op for _v, op in twin.commit_ops(v0)] == ["scd_compact"]
    assert sorted(_commit_entry(hist, report.version)["removes"]) == sorted(
        _commit_entry(twin, v_twin)["removes"]
    )
    assert report.vacuumed_files == len(removed_twin)
    for t in (hist, twin):
        assert {m["kind"] for m in t.snapshot().files.values()} == {"base"}
    keys = ("conv_id", "turn_idx", "_airbyte_start_at")
    assert_same(read_scd(hist), read_scd(twin).toPandas(), keys=keys)
    assert _disk_files(hist, before) == _disk_files(twin, before)


def test_fold_all_only_vacuums_cow_history(spark, tmp_path, tmp_path_factory):
    """A COW history table has no deltas and one file per bucket, so
    maintain(h, FOLD_ALL, scd=True) commits nothing: it only reclaims the
    files the per-batch bucket rewrites dereferenced, as
    h.vacuum(grace_commits=2) does."""
    from airbyte_spark.lake import FOLD_ALL, maintain

    hist, twin = _scd_twins(spark, tmp_path, tmp_path_factory, "cow", 4)
    snap0 = hist.snapshot()
    before = set(_disk_listing(hist))
    assert {m["kind"] for m in snap0.files.values()} == {"base"}
    assert all(len(v) == 1 for v in _files_per_bucket(snap0).values())

    report = maintain(hist, FOLD_ALL, scd=True)
    removed_twin = twin.vacuum(grace_commits=2)

    assert report.compacted == [] and report.version == snap0.version
    assert hist.snapshot().version == snap0.version  # no commit
    assert report.vacuumed_files == len(removed_twin) > 0
    assert _disk_files(hist, before) == _disk_files(twin, before)


def test_maintain_plans_and_folds_one_snapshot(
    spark, tmp_path, tmp_path_factory, monkeypatch
):
    """One maintenance cycle takes ONE snapshot to plan and fold on (the
    vacuum that follows reads the version the fold committed), for a main
    table and a history table alike."""
    import numpy as np
    from airbyte_spark.lake import FOLD_ALL, maintain
    from airbyte_spark.lake.scd import bootstrap_scd_table, scd_merge_batch

    feed = tmp_path_factory.mktemp("ossfeed")
    ev = generate_feed(
        str(feed),
        FeedSpec(n_convs=12, turns_per_conv=3, n_updates=40, n_deletes=5,
                 dup_rate=0.05, late_rate=0.05, n_segments=2, seed=71),
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    table = _mk_table(spark, tmp_path / "t")
    hist = bootstrap_scd_table(
        spark, str(tmp_path / "h"), CHANGE_STRUCT, PK, bucket_cols=["conv_id"],
        n_buckets=4,
    )
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 2)):
        batch = spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT)
        merge_batch(table, batch, ORDER_COLS, batch_id=i, strategy="mor")
        scd_merge_batch(hist, batch, PK, batch_id=i, strategy="mor")

    events = []
    orig_snapshot, orig_vacuum = LakeTable.snapshot, LakeTable.vacuum

    def snapshot(self, *a, **kw):
        events.append("snapshot")
        return orig_snapshot(self, *a, **kw)

    def vacuum(self, *a, **kw):
        events.append("vacuum")
        return orig_vacuum(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "snapshot", snapshot)
    monkeypatch.setattr(LakeTable, "vacuum", vacuum)
    for t, scd in ((table, False), (hist, True)):
        events.clear()
        report = maintain(t, FOLD_ALL, scd=scd)
        assert report.compacted
        assert events[: events.index("vacuum")] == ["snapshot"]


def test_replay_config_type_hints_resolve():
    """Every ReplayConfig annotation names something the runner module
    imports (a missing import only shows when the hints are resolved)."""
    import typing

    from airbyte_spark.lake import MaintenancePolicy
    from airbyte_spark.streaming import ReplayConfig

    hints = typing.get_type_hints(ReplayConfig)
    assert hints["maintenance_policy"] == typing.Optional[MaintenancePolicy]
    assert hints["drift_cols"] == typing.Optional[typing.Sequence[str]]


def test_runner_and_cli_maintain_only_through_maintain():
    """The streaming runner and job.py have one maintenance path: neither
    calls compact, scd_compact or vacuum itself; every fold and reclaim
    goes through lake.maintenance.maintain / maintain_until_clean."""
    import ast

    import airbyte_spark.job as job_mod
    import airbyte_spark.streaming.runner as runner_mod

    banned = {"compact", "scd_compact", "vacuum"}
    for mod in (runner_mod, job_mod):
        with open(mod.__file__) as f:
            tree = ast.parse(f.read())
        calls = []
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name in banned:
                calls.append(f"{mod.__name__}:{node.lineno} {name}()")
        assert not calls, f"maintenance outside maintain(): {calls}"
