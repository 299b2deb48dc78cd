"""Time-travel reads + rollback (Iceberg snapshot-read / rollback parity),
built on the checkpointed commit log."""

import numpy as np
import pytest

from airbyte_spark.catalog import TableSchema
from airbyte_spark.feedgen import FeedSpec, generate_feed
from airbyte_spark.lake import LakeTable, merge_batch
from airbyte_spark.schemas import CHANGE_STRUCT, ORDER_COLS, PK, TRANSCRIPT_STRUCT

SPEC = FeedSpec(n_convs=12, turns_per_conv=3, n_updates=60, n_deletes=8,
                dup_rate=0.05, late_rate=0.05, n_segments=2, seed=55)


def _rows(table, snap=None):
    df = table.read(snap=snap) if snap else table.read()
    return sorted(
        (r.conv_id, r.turn_idx, r.text) for r in df.select("conv_id", "turn_idx", "text").collect()
    )


def test_time_travel_and_rollback(spark, tmp_path, tmp_path_factory):
    feed = tmp_path_factory.mktemp("ttfeed")
    ev = generate_feed(str(feed), SPEC)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=4,
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    states = {}
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 4)):
        batch = spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT)
        merge_batch(table, batch, ORDER_COLS, app_id="tt", batch_id=i, strategy="mor")
        states[table.snapshot().version] = _rows(table)

    versions = sorted(states)
    # --- time travel: every historical version reads back exactly ---------
    for v in versions:
        assert _rows(table, snap=table.snapshot(at_version=v)) == states[v]
    with pytest.raises(ValueError, match="future"):
        table.snapshot(at_version=versions[-1] + 10)

    # --- rollback to the state after batch 1 ------------------------------
    target = versions[1]
    table.rollback(target)
    assert _rows(table) == states[target]
    # fences rolled back too: re-merging batch 2 APPLIES (not fenced out)
    idx = np.array_split(np.arange(len(ev)), 4)[2]
    batch = spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT)
    stats = merge_batch(table, batch, ORDER_COLS, app_id="tt", batch_id=2, strategy="mor")
    assert not stats.skipped
    assert _rows(table) == states[versions[2]]
    # the pre-rollback tip is still reachable until vacuumed
    assert _rows(table, snap=table.snapshot(at_version=versions[-1])) == states[versions[-1]]

    # --- vacuum breaks rollback beyond the grace window, loudly -----------
    table.vacuum()  # grace 0: drops everything the current snapshot doesn't reference
    with pytest.raises(ValueError, match="vacuumed"):
        table.rollback(versions[-1])


def test_changelog_read_and_roundtrip(spark, tmp_path, tmp_path_factory):
    """changes_between on a MOR table: per-commit change rows (tombstones
    visible, _change_version stamped) — and replaying the changelog into a
    FRESH table reproduces the source state exactly (CDC-out round-trip)."""
    from pyspark.sql import functions as F

    feed = tmp_path_factory.mktemp("cdffeed")
    ev = generate_feed(str(feed), SPEC)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=4,
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    versions = [table.snapshot().version]
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 3)):
        batch = spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT)
        merge_batch(table, batch, ORDER_COLS, app_id="cdf", batch_id=i, strategy="mor")
        versions.append(table.snapshot().version)

    cdf = table.changes_between(versions[1])  # commits 2..3
    assert set(r._change_version for r in cdf.select("_change_version").distinct().collect()) \
        == {versions[2], versions[3]}
    lin = table.lineage_df().toPandas().set_index("version")
    n_expected = int(lin.loc[[versions[2], versions[3]], "rows_in"].sum())
    assert cdf.count() == n_expected
    assert cdf.filter(F.col("__deleted")).count() == int(
        lin.loc[[versions[2], versions[3]], "rows_deleted"].sum()
    )

    # round-trip: full changelog from v0 replayed into a fresh table
    full = table.changes_between(versions[0])
    replay_batch = full.select(
        *[f.name for f in TRANSCRIPT_STRUCT.fields],
        F.col("__lsn").alias("_ab_cdc_lsn"),
        F.when(F.col("__deleted"), F.to_timestamp(F.lit("2025-01-01")))
        .alias("_ab_cdc_deleted_at"),
    )
    table2 = LakeTable.create(
        spark, str(tmp_path / "t2"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=4,
    )
    merge_batch(table2, replay_batch, ["_ab_cdc_lsn"], batch_id=0)
    assert _rows(table2) == _rows(table)

    # --- rewrite commits in the range: derived, not refused ---------------
    # a compaction changes NO logical state: empty changelog contribution
    v_before_compact = table.snapshot().version
    table.compact()
    assert table.changes_between(v_before_compact).count() == 0

    # a COW merge derives its change rows by keyed snapshot diff
    batch = spark.createDataFrame(ev.iloc[:20][cols], schema=CHANGE_STRUCT)
    ev2_lsn = int(ev["_ab_cdc_lsn"].max())
    batch = batch.withColumn("_ab_cdc_lsn", F.col("_ab_cdc_lsn") + ev2_lsn)
    merge_batch(table, batch, ORDER_COLS, app_id="cdf", batch_id=99, strategy="cow")
    v_cow = table.snapshot().version
    cow_changes = table.changes_between(v_before_compact)
    # exactly the cow batch's collapsed keys, nothing carried over from the
    # rewritten buckets' untouched rows
    n_keys = batch.select("conv_id", "turn_idx").distinct().count()
    assert cow_changes.count() == n_keys
    assert set(
        r._change_version for r in cow_changes.select("_change_version").distinct().collect()
    ) == {v_cow}

    # round-trip ACROSS a cow merge AND a compaction in the range:
    # replaying the full changelog reproduces the final state exactly
    full2 = table.changes_between(versions[0])
    replay2 = full2.select(
        *[f.name for f in TRANSCRIPT_STRUCT.fields],
        F.col("__lsn").alias("_ab_cdc_lsn"),
        F.when(F.col("__deleted"), F.to_timestamp(F.lit("2025-01-01")))
        .alias("_ab_cdc_deleted_at"),
    )
    table3 = LakeTable.create(
        spark, str(tmp_path / "t3"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=4,
    )
    merge_batch(table3, replay2, ["_ab_cdc_lsn"], batch_id=0)
    assert _rows(table3) == _rows(table)

    # overwrite/rollback still refuse, loudly
    table.rollback(v_before_compact)
    with pytest.raises(ValueError, match="rollback"):
        table.changes_between(v_cow - 1)


def test_cdf_truncate_boundary_and_consumer_resync(spark, tmp_path, tmp_path_factory):
    """on_truncate='boundary': a rollback in the tailed range emits exactly
    one _change_type='truncate' row at the rollback's version and NOTHING
    past it; a tailing consumer detects it, re-syncs its replica from the
    snapshot AT the boundary, resumes tailing, and ends byte-equal to the
    table — the Delta-CDF contract for non-row-attributable commits."""
    from pyspark.sql import functions as F

    spec = FeedSpec(n_convs=10, turns_per_conv=3, n_updates=50, n_deletes=6,
                    dup_rate=0.0, late_rate=0.0, n_segments=2, seed=66)
    feed = tmp_path_factory.mktemp("cdfbfeed")
    ev = generate_feed(str(feed), spec)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=4,
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    chunks = np.array_split(np.arange(len(ev)), 4)
    for i in range(3):  # v1..v3
        batch = spark.createDataFrame(ev.iloc[chunks[i]][cols], schema=CHANGE_STRUCT)
        merge_batch(table, batch, ORDER_COLS, app_id="a", batch_id=i, strategy="mor")
    table.rollback(2)  # v4: non-row-attributable
    v_boundary = table.snapshot().version
    batch = spark.createDataFrame(ev.iloc[chunks[3]][cols], schema=CHANGE_STRUCT)
    merge_batch(table, batch, ORDER_COLS, app_id="b", batch_id=0, strategy="mor")

    replica: dict = {}

    def apply(changes):
        """Tailing consumer step; returns the truncate boundary or None."""
        rows = sorted(
            changes.collect(), key=lambda r: (r._change_version, r["__lsn"] or 0)
        )
        for r in rows:
            if r._change_type == "truncate":
                return r._change_version
            key = (r.conv_id, r.turn_idx)
            if r._change_type == "delete":
                replica.pop(key, None)
            else:
                replica[key] = r.text
        return None

    # default mode still refuses, loudly, pointing at the boundary option
    with pytest.raises(ValueError, match="boundary"):
        table.changes_between(0)

    boundary = apply(table.changes_between(0, on_truncate="boundary"))
    assert boundary == v_boundary
    # nothing past the boundary was emitted: v5's rows are absent
    feed_chunk3 = {(c, t) for c, t in ev.iloc[chunks[3]][["conv_id", "turn_idx"]].values}
    # re-sync wholesale from the snapshot at the boundary
    snap = table.snapshot(at_version=boundary)
    replica.clear()
    for r in table.read(snap=snap).select("conv_id", "turn_idx", "text").collect():
        replica[(r.conv_id, r.turn_idx)] = r.text
    # resume tailing after the boundary
    assert apply(table.changes_between(boundary, on_truncate="boundary")) is None

    expected = {
        (r.conv_id, r.turn_idx): r.text
        for r in table.read().select("conv_id", "turn_idx", "text").collect()
    }
    assert replica == expected
    assert feed_chunk3  # the post-boundary tail was non-trivial


def test_time_travel_expiry_raises(spark, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=4,
    )
    snap = table.snapshot()
    for i in range(70):
        table.commit(snap, [], [], fence=("a", i))
        snap = table.snapshot()
    # log expiry (2 checkpoint intervals back) folded early commits away
    with pytest.raises(ValueError, match="expired"):
        table.snapshot(at_version=2)
    # recent versions still travel fine
    assert table.snapshot(at_version=snap.version - 1).fences["a"] == 68


def test_changelog_plan_coalesces_commit_scans(spark, tmp_path, tmp_path_factory):
    """Tailing a LONG range of append/MOR commits must plan one coalesced
    scan per schema era (each row's version from a literal map keyed by
    its file's write subdir, no join), never one scan branch per commit —
    at production commit cadence a consumer tails thousands of commits and
    an O(commits) plan would dwarf the data it reads."""
    feed = tmp_path_factory.mktemp("cdfplanfeed")
    ev = generate_feed(str(feed), SPEC)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=4,
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    n_batches = 10
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), n_batches)):
        batch = spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT)
        merge_batch(table, batch, ORDER_COLS, app_id="cp", batch_id=i, strategy="mor")

    cdf = table.changes_between(0)
    # every commit in the range is represented in the one coalesced feed
    versions = {r._change_version for r in cdf.select("_change_version").distinct().collect()}
    assert len(versions) == n_batches
    # replaying the coalesced feed reproduces the final table state exactly
    latest = {}
    for r in cdf.collect():
        k = (r.conv_id, r.turn_idx)
        o = (r["__lsn"], -r._change_version)
        if k not in latest or o > latest[k][0]:
            latest[k] = (o, r)
    replayed = sorted(
        (k[0], k[1], r.text) for k, (_, r) in latest.items() if not r["__deleted"]
    )
    assert replayed == _rows(table)

    # one parquet relation in the optimized plan (the executed-plan string
    # under AQE prints the same scan twice, so count logical relations)
    logical = cdf._jdf.queryExecution().optimizedPlan().toString()
    n_scans = sum(
        1 for ln in logical.splitlines() if "Relation" in ln and "parquet" in ln
    )
    assert n_scans == 1, f"expected 1 coalesced commit scan, got {n_scans}"
    plan = cdf._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # no version manifest to join
