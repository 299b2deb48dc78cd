"""Incremental SCD2 history maintenance (D2/D6 streaming form) + the
skew-bounded SCD2 window.

Equivalence contract: the streaming <stream>_scd table must equal batch
scd2() over the whole feed's distinct versions — including late events,
deletes, duplicates and hot-key skew (reference stream_processor.py:892-942
incremental SCD semantics)."""

import dataclasses

import numpy as np
import pytest
from pyspark.sql import functions as F

from airbyte_spark.feedgen import FeedSpec, generate_feed
from airbyte_spark.lake import LakeTable
from airbyte_spark.lake.scd import bootstrap_scd_table, scd_merge_batch, SCD_OUT_COLS
from airbyte_spark.operators.dedup import scd2, scd2_bounded
from airbyte_spark.operators.skew import salted_scd2_input
from airbyte_spark.plans.replay import prepare_changes
from airbyte_spark.schemas import CHANGE_STRUCT, CURSOR, PK
from airbyte_spark.streaming import ReplayConfig, run_replay_stream

SPEC = FeedSpec(n_convs=15, turns_per_conv=4, n_updates=150, n_deletes=20,
                dup_rate=0.10, late_rate=0.10, hot_fraction=0.5,
                n_segments=5, seed=99)


def _batch_scd(spark, feed_dir, canonicalize=True):
    raw = spark.read.schema(CHANGE_STRUCT).parquet(f"{feed_dir}/*.parquet")
    versions = prepare_changes(
        salted_scd2_input(raw, PK, CURSOR), canonicalize=canonicalize
    )
    return scd2(versions, PK, CURSOR)


def _assert_df_equal(a, b):
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_scd2_bounded_equals_window_on_hot_key(spark):
    """Range-bucketed SCD2 (bounded sorts) must be byte-equal to the plain
    window form on a feed where one key holds most versions."""
    rows = [("hot", 0, i) for i in range(1, 301)] + [
        (f"cold-{j}", 0, 1000 + j) for j in range(20)
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "_ab_cdc_lsn"])
    plain = scd2(df, PK, CURSOR)
    bounded = scd2_bounded(df, PK, CURSOR, range_size=50)
    _assert_df_equal(plain, bounded)
    # the bounded form's window partitions are (pk, range-bucket): the hot
    # key's 300 versions sort in ceil(300/50)-row... chunks of <= 50
    assert bounded.filter(F.col("_airbyte_active_row") == 1).count() == 21


def test_scd2_bounded_keeps_null_cursor_and_pk_rows(spark):
    """Null-cursor versions (snapshot records without CDC metadata) and
    null pk components must survive the bounded form's bucket join
    (null-safe) and land exactly where plain scd2's desc_nulls_last puts
    them: below every real version."""
    rows = [
        ("a", 0, 10), ("a", 0, 20),          # plain two-version key
        ("b", 0, None),                       # only a null-cursor version
        ("c", 0, None), ("c", 0, 5),          # null loses to a real version
        (None, 0, 7),                         # null pk component
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, _ab_cdc_lsn bigint"
    )
    plain = scd2(df, PK, CURSOR)
    bounded = scd2_bounded(df, PK, CURSOR, range_size=8)
    assert bounded.count() == len(rows)  # nothing silently dropped
    _assert_df_equal(plain, bounded)


from hypothesis import given, settings, strategies as st


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.one_of(st.none(), st.integers(0, 10**6))),
        min_size=1, max_size=25, unique=True,
    ),
    range_size=st.sampled_from([1, 7, 100, 100_000]),
)
def test_scd2_bounded_equals_plain_property(spark, rows, range_size):
    """Property: for ANY version set (unique cursor per key, at most one
    null-cursor version per key) and ANY range size — including range 1
    (every version its own bucket) — the bounded form is byte-equal to
    the plain window."""
    df = spark.createDataFrame(
        [(f"k{k}", 0, c) for k, c in rows],
        "conv_id string, turn_idx int, _ab_cdc_lsn bigint",
    )
    plain = scd2(df, PK, CURSOR)
    bounded = scd2_bounded(df, PK, CURSOR, range_size=range_size)
    _assert_df_equal(plain, bounded)


def test_salted_scd2_input_deterministic_collapse(spark):
    """Duplicate copies of one version differing only in delivery metadata
    must collapse to the max-(updated, emitted) copy, every time."""
    import pandas as pd

    ts = pd.Timestamp("2025-01-01 10:00").to_pydatetime()
    ts_old = pd.Timestamp("2025-01-01 09:00").to_pydatetime()
    rows = [
        ("c", 0, "a-text", 5, ts, ts),
        ("c", 0, "a-text", 5, ts, ts_old),  # late re-delivery, stale emitted
        ("c", 0, "b-text", 6, ts, ts),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, _ab_cdc_lsn long, "
        "_ab_cdc_updated_at timestamp, _airbyte_emitted_at timestamp",
    )
    for _ in range(3):
        out = salted_scd2_input(df, PK, CURSOR)
        got = {(r._ab_cdc_lsn, r._airbyte_emitted_at) for r in out.collect()}
        assert got == {(5, ts), (6, ts)}


def test_streaming_scd_equals_batch_scd2(spark, tmp_path, tmp_path_factory):
    """Full-feed streaming replay maintaining the SCD table per micro-batch
    == batch scd2 over the whole feed (late events, deletes, dups, skew)."""
    feed = tmp_path_factory.mktemp("scdfeed")
    generate_feed(str(feed), SPEC)
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        scd_table_path=str(tmp_path / "tbl_scd"),
        max_files_per_trigger=1,  # 5 micro-batches
        strategy="mor",
    )
    run_replay_stream(spark, cfg)
    scd_table = LakeTable(spark, cfg.scd_table_path)
    streamed = scd_table.read()
    expected = _batch_scd(spark, str(feed))
    _assert_df_equal(streamed, expected)

    # the SCD1 table stays consistent with the SCD2 active rows
    main = LakeTable(spark, cfg.table_path).read()
    active = streamed.filter(
        (F.col("_airbyte_active_row") == 1)
    ).select(*main.columns)
    _assert_df_equal(main, active)

    # replaying the same feed into the same tables is fenced end-to-end
    cfg2 = ReplayConfig(
        feed_dir=str(feed), table_path=cfg.table_path,
        checkpoint_dir=cfg.checkpoint_dir, scd_table_path=cfg.scd_table_path,
        max_files_per_trigger=1, strategy="mor",
    )
    run_replay_stream(spark, cfg2)
    _assert_df_equal(scd_table.read(), expected)


def test_scd_mor_appends_o_batch_and_resolves_byte_equal(spark, tmp_path, tmp_path_factory):
    """strategy="mor": every micro-batch commit appends delta files and
    removes NOTHING (O(batch) write amplification, the round-3 fix for
    per-batch touched-bucket history rewrites); the resolved read is
    byte-equal to batch scd2 over the whole feed (late events, deletes,
    dups, skew), before AND after scd_compact folds the deltas."""
    import json as _json
    import os

    from airbyte_spark.lake.scd import read_scd, scd_compact

    feed = tmp_path_factory.mktemp("scdmorfeed")
    ev = generate_feed(str(feed), SPEC)
    table = bootstrap_scd_table(
        spark, str(tmp_path / "scd"), CHANGE_STRUCT, PK, bucket_cols=["conv_id"],
        n_buckets=4,
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    v0 = table.snapshot().version
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 5)):
        batch = spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT)
        stats = scd_merge_batch(table, batch, PK, app_id="m", batch_id=i,
                                post_dedup=prepare_changes, strategy="mor")
        assert not stats.skipped
        with open(table._log_path(stats.version)) as f:
            e = _json.load(f)
        assert "removes" not in e  # append-only: no history rewrite
        assert all(a["kind"] == "delta" for a in e.get("adds", []))

    expected = _batch_scd(spark, str(feed))
    _assert_df_equal(read_scd(table), expected)  # MOR resolution exact

    # fenced re-delivery under MOR too
    batch = spark.createDataFrame(ev.iloc[:50][cols], schema=CHANGE_STRUCT)
    assert scd_merge_batch(table, batch, PK, app_id="m", batch_id=2,
                           strategy="mor").skipped

    # fold: deltas -> fully-resolved base; plain scan now exact
    scd_compact(table)
    snap = table.snapshot()
    assert {m["kind"] for m in snap.files.values()} == {"base"}
    _assert_df_equal(table.read(), expected)     # materialized columns exact
    _assert_df_equal(read_scd(table), expected)  # fast path (no window)
    table.vacuum()

    # history keeps growing through another MOR batch after the fold
    extra = ev.iloc[:40][cols]
    stats = scd_merge_batch(
        table, spark.createDataFrame(extra, schema=CHANGE_STRUCT), PK,
        app_id="m", batch_id=10, post_dedup=prepare_changes, strategy="mor",
    )
    assert not stats.skipped
    _assert_df_equal(read_scd(table), expected)  # versions already present


def test_read_scd_hybrid_prunes_clean_buckets(spark, tmp_path, tmp_path_factory):
    """Bucket-pruned hybrid read_scd: with deltas in 1 of 8 buckets, only
    that bucket's rows go through the MOR resolution window — every clean
    bucket is a plain materialized scan unioned in. Asserts (a) byte
    equality with full-table resolution AND with batch scd2 over the whole
    event set, (b) the physical plan reads the clean buckets' files
    OUTSIDE any Window/Exchange, and (c) the resolved branch scans ONLY
    the delta bucket's files (file-level pruning)."""
    import re

    from airbyte_spark.lake.scd import _resolved_history, read_scd, scd_compact

    feed = tmp_path_factory.mktemp("scdhybridfeed")
    ev = generate_feed(str(feed), SPEC)
    cols = [f.name for f in CHANGE_STRUCT.fields]
    table = bootstrap_scd_table(
        spark, str(tmp_path / "scd"), CHANGE_STRUCT, PK, bucket_cols=["conv_id"],
        n_buckets=8,
    )
    # seed the whole feed, then fold: every bucket fully materialized base
    scd_merge_batch(
        table, spark.createDataFrame(ev[cols], schema=CHANGE_STRUCT), PK,
        app_id="h", batch_id=0, post_dedup=prepare_changes, strategy="mor",
    )
    scd_compact(table)

    # one MOR batch of genuinely new versions for a single conv -> deltas
    # land in exactly one bucket
    conv = ev["conv_id"].iloc[0]
    bump = ev[ev["conv_id"] == conv].copy()
    bump["_ab_cdc_lsn"] = bump["_ab_cdc_lsn"] + int(ev["_ab_cdc_lsn"].max()) + 1
    scd_merge_batch(
        table, spark.createDataFrame(bump[cols], schema=CHANGE_STRUCT), PK,
        app_id="h", batch_id=1, post_dedup=prepare_changes, strategy="mor",
    )

    snap = table.snapshot()
    delta_files = [p for p, m in snap.files.items() if m.get("kind") == "delta"]
    delta_buckets = {snap.files[p]["bucket"] for p in delta_files}
    assert len(delta_buckets) == 1
    all_buckets = {m["bucket"] for m in snap.files.values()}
    assert len(all_buckets - delta_buckets) >= 6  # plenty of clean buckets
    n_delta_branch_files = sum(
        1 for m in snap.files.values() if m["bucket"] in delta_buckets
    )
    n_clean_files = len(snap.files) - n_delta_branch_files

    hybrid = read_scd(table)
    # (a) byte-equal to full-table resolution and to batch scd2 end-to-end
    full = _resolved_history(snap, table.read(snap=snap, resolve=False), False)
    _assert_df_equal(hybrid, full)
    all_ev = spark.createDataFrame(
        __import__("pandas").concat([ev[cols], bump[cols]]), schema=CHANGE_STRUCT
    )
    expected = scd2(
        prepare_changes(salted_scd2_input(all_ev, PK, CURSOR)), PK, CURSOR
    )
    _assert_df_equal(hybrid, expected)

    # (b) plan shape: clean scan sits above/before any Window or Exchange
    plan = hybrid._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan
    first_scan = plan.find("Scan parquet")
    assert first_scan != -1
    for op in ("Window", "Exchange"):
        pos = plan.find(op)
        assert pos == -1 or pos > first_scan, (
            f"{op} appears above the clean buckets' scan:\n{plan}"
        )
    # (c) file-level pruning: the two scans read exactly the clean files
    # and the delta bucket's files respectively
    counts = sorted(
        int(n) for n in re.findall(r"InMemoryFileIndex\((\d+) paths\)", plan)
    )
    assert counts == sorted([n_clean_files, n_delta_branch_files]), plan


def test_scd_changelog_roundtrip_across_cow_merge(spark, tmp_path, tmp_path_factory):
    """CDF over an SCD history table with a COW scd_merge in the range:
    the commit's change rows come from a (pk, cursor) EXISTENCE diff of
    v-1/v over touched buckets (version rows are immutable; derived-column
    rewrites are re-derivable), emitted with NULL end_at/active_row —
    identical shape to MOR delta rows. Replaying the full changelog into a
    FRESH history table (per-commit scd_merge_batch) and through
    resolve_scd_changelog both reproduce read_scd exactly (exceptAll=0)."""
    from airbyte_spark.lake.scd import (
        read_scd,
        resolve_scd_changelog,
        scd_merge_batch,
    )

    feed = tmp_path_factory.mktemp("scdcdffeed")
    ev = generate_feed(str(feed), SPEC)
    cols = [f.name for f in CHANGE_STRUCT.fields]
    src = bootstrap_scd_table(
        spark, str(tmp_path / "src"), CHANGE_STRUCT, PK, bucket_cols=["conv_id"],
        n_buckets=4,
    )
    # two COW batches (bucket rewrites: derived columns of OLD versions
    # change at unchanged LSN) then one MOR batch (delta appends)
    strategies = ["cow", "cow", "mor"]
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 3)):
        batch = spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT)
        scd_merge_batch(src, batch, PK, app_id="cdf", batch_id=i,
                        post_dedup=prepare_changes, strategy=strategies[i])
    expected = read_scd(src)

    changes = src.changes_between(0)
    # change rows never carry derived state, in either strategy
    assert changes.filter(
        F.col("_airbyte_end_at").isNotNull()
        | F.col("_airbyte_active_row").isNotNull()
    ).count() == 0
    # every distinct (pk, cursor) version is present (MOR commits may
    # re-deliver a version as a duplicate delta row; the collapse handles it)
    assert changes.select(*PK, CURSOR).distinct().count() == expected.count()

    # consumer path A: fold the accumulated feed directly
    resolved = resolve_scd_changelog(changes, PK, CURSOR)
    _assert_df_equal(resolved, expected)

    # consumer path B: replay per-commit into a FRESH history table
    dst = bootstrap_scd_table(
        spark, str(tmp_path / "dst"), CHANGE_STRUCT, PK, bucket_cols=["conv_id"],
        n_buckets=4,
    )
    versions = sorted(
        r._change_version
        for r in changes.select("_change_version").distinct().collect()
    )
    for i, v in enumerate(versions):
        rows = changes.filter(F.col("_change_version") == v).select(*cols)
        scd_merge_batch(dst, rows, PK, app_id="replay", batch_id=i,
                        strategy="mor")
    _assert_df_equal(read_scd(dst), expected)


def test_streaming_scd_mor_equals_batch_scd2(spark, tmp_path, tmp_path_factory):
    """Full streaming replay with the MOR history strategy + periodic
    scd_compact folds == batch scd2; a restarted replay is fenced."""
    from airbyte_spark.lake.scd import read_scd

    feed = tmp_path_factory.mktemp("scdmorstream")
    generate_feed(str(feed), SPEC)
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        scd_table_path=str(tmp_path / "tbl_scd"),
        max_files_per_trigger=1,  # 5 micro-batches
        strategy="mor",
        scd_strategy="mor",
        compact_every_batches=3,  # one fold mid-stream
    )
    run_replay_stream(spark, cfg)
    scd_table = LakeTable(spark, cfg.scd_table_path)
    expected = _batch_scd(spark, str(feed))
    _assert_df_equal(read_scd(scd_table), expected)

    # SCD1 table consistent with the SCD2 active rows
    main = LakeTable(spark, cfg.table_path).read()
    active = read_scd(scd_table).filter(
        F.col("_airbyte_active_row") == 1
    ).select(*main.columns)
    _assert_df_equal(main, active)

    cfg2 = ReplayConfig(
        feed_dir=str(feed), table_path=cfg.table_path,
        checkpoint_dir=cfg.checkpoint_dir, scd_table_path=cfg.scd_table_path,
        max_files_per_trigger=1, strategy="mor", scd_strategy="mor",
    )
    run_replay_stream(spark, cfg2)
    _assert_df_equal(read_scd(scd_table), expected)


def test_scd_merge_batch_resume_and_late_rows(spark, tmp_path, tmp_path_factory):
    """Driving scd_merge_batch directly: a late lower-LSN version arriving
    in a later batch lands as a CLOSED history row (cannot resurrect)."""
    import pandas as pd

    feed = tmp_path_factory.mktemp("scdfeed2")
    ev = generate_feed(str(feed), SPEC)
    table = bootstrap_scd_table(
        spark, str(tmp_path / "scd"), CHANGE_STRUCT, PK, bucket_cols=["conv_id"],
        n_buckets=4,
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 3)):
        batch = spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT)
        stats = scd_merge_batch(table, batch, PK, app_id="t", batch_id=i,
                                post_dedup=prepare_changes, bounded=True)
        assert not stats.skipped
    expected = _batch_scd(spark, str(feed))
    _assert_df_equal(table.read(), expected)
    # fenced re-delivery
    batch = spark.createDataFrame(ev.iloc[:50][cols], schema=CHANGE_STRUCT)
    assert scd_merge_batch(table, batch, PK, app_id="t", batch_id=1).skipped
    # exactly one active row per live key; closed rows carry end_at
    hist = table.read()
    per_key = hist.groupBy(*PK).agg(
        F.sum("_airbyte_active_row").alias("n_active"),
        F.count("*").alias("n_rows"),
    )
    assert per_key.filter(F.col("n_active") > 1).count() == 0
    closed = hist.filter(F.col("_airbyte_active_row") == 0)
    assert closed.filter(
        F.col("_airbyte_end_at").isNull() & F.col("_ab_cdc_deleted_at").isNull()
    ).count() == 0


def test_read_scd_asof_point_in_time(spark, tmp_path, tmp_path_factory):
    """read_scd_asof(C) == the latest non-deleted version per key with
    cursor <= C — computed INDEPENDENTLY of the SCD window (plain
    latest-per-key over the truncated feed), so interval semantics and
    delete handling are cross-checked, not self-checked."""
    from airbyte_spark.lake.scd import read_scd_asof
    from airbyte_spark.operators.dedup import latest_per_key

    feed = tmp_path_factory.mktemp("scdasoffeed")
    ev = generate_feed(str(feed), SPEC)
    table = bootstrap_scd_table(
        spark, str(tmp_path / "scd"), CHANGE_STRUCT, PK, bucket_cols=["conv_id"],
        n_buckets=4,
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 3)):
        batch = spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT)
        scd_merge_batch(table, batch, PK, app_id="a", batch_id=i,
                        post_dedup=prepare_changes, strategy="mor")

    raw = spark.read.schema(CHANGE_STRUCT).parquet(f"{feed}/*.parquet")
    versions = prepare_changes(salted_scd2_input(raw, PK, CURSOR))
    for c in (int(ev["_ab_cdc_lsn"].median()), int(ev["_ab_cdc_lsn"].max())):
        got = read_scd_asof(table, c)
        want = latest_per_key(
            versions.filter(F.col(CURSOR) <= c), PK, [CURSOR]
        ).filter(F.col("_ab_cdc_deleted_at").isNull())
        key = [*PK, CURSOR, "text"]
        assert sorted(map(tuple, got.select(key).collect())) == \
               sorted(map(tuple, want.select(key).collect()))
        # at most one active version per key
        assert got.groupBy(*PK).count().filter("count > 1").count() == 0


def _tiny_batch(spark, rows):
    import datetime

    ts = datetime.datetime(2025, 1, 1)
    data = [
        (c, t, "user", txt, None, ts, lsn, ts, None, ts)
        for (c, t, lsn, txt) in rows
    ]
    return spark.createDataFrame(data, schema=CHANGE_STRUCT)


def test_scd_cow_merge_null_pads_evolved_column(spark, tmp_path):
    """After the SCD table evolves (add column) but before the feed
    carries it, the COW merge must null-pad like the MOR path and
    merge_batch — not crash resolving a missing column."""
    import pyspark.sql.types as T

    from airbyte_spark.catalog import diff_schemas
    from airbyte_spark.lake.scd import read_scd

    table = bootstrap_scd_table(
        spark, str(tmp_path / "scd"), CHANGE_STRUCT, PK, cursor=CURSOR,
        n_buckets=4,
    )
    scd_merge_batch(table, _tiny_batch(spark, [("c1", 0, 10, "a")]), PK,
                    cursor=CURSOR, app_id="t", batch_id=0, strategy="cow")
    cur = table.snapshot().schema.to_struct()
    target = T.StructType(
        list(cur.fields) + [T.StructField("tool_version", T.StringType(), True)]
    )
    table.evolve(
        diff_schemas(table.snapshot().schema, target,
                     primary_key=list(table.snapshot().primary_key))
    )
    scd_merge_batch(table, _tiny_batch(spark, [("c1", 0, 20, "b")]), PK,
                    cursor=CURSOR, app_id="t", batch_id=1, strategy="cow")
    hist = read_scd(table).orderBy("_airbyte_start_at").collect()
    assert [h["text"] for h in hist] == ["a", "b"]
    assert all(h["tool_version"] is None for h in hist)


def test_scd_merge_empty_batch_respects_commit_empty(spark, tmp_path):
    """commit_empty=False must leave NO commit for a zero-row trigger
    (idle-tail policy, same contract as merge_batch)."""
    table = bootstrap_scd_table(
        spark, str(tmp_path / "scd"), CHANGE_STRUCT, PK, cursor=CURSOR,
        n_buckets=2,
    )
    empty = spark.createDataFrame([], CHANGE_STRUCT)
    v0 = table.snapshot().version
    st = scd_merge_batch(table, empty, PK, cursor=CURSOR, app_id="t",
                         batch_id=0, commit_empty=False)
    assert st.version is None and table.snapshot().version == v0
    st = scd_merge_batch(table, empty, PK, cursor=CURSOR, app_id="t", batch_id=0)
    assert st.version == v0 + 1  # default still records the fence


def test_streaming_cow_scd_is_vacuumed(spark, tmp_path, tmp_path_factory):
    """COW SCD history in the streaming loop: every scd_merge rewrites its
    touched buckets, so the maintenance cycle must vacuum the SCD table
    too (not only for strategy='mor') — otherwise one full bucket-rewrite
    per micro-batch accumulates forever."""
    feed = tmp_path_factory.mktemp("scdvac")
    # 4 segments, one per batch: the last batch runs a maintenance cycle
    generate_feed(str(feed), dataclasses.replace(SPEC, n_segments=4))
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        scd_table_path=str(tmp_path / "scd"),
        scd_strategy="cow",
        max_files_per_trigger=1,
        compact_every_batches=2,
    )
    run_replay_stream(spark, cfg)
    scd = LakeTable(spark, cfg.scd_table_path)
    # the in-stream cycles already reclaimed everything older than the
    # grace window: a manual vacuum with the same grace finds nothing
    assert scd.vacuum(grace_commits=2) == []


def test_scd_table_matches_main_bucket_count(spark, tmp_path, tmp_path_factory):
    """The auto-bootstrapped SCD table must inherit the main table's
    bucket count (bootstrap_scd_table's own contract: both upserts prune
    and parallelize at the same granularity)."""
    from airbyte_spark.streaming.runner import bootstrap_table

    feed = tmp_path_factory.mktemp("scdnb")
    generate_feed(str(feed), SPEC)
    bootstrap_table(spark, str(tmp_path / "tbl"), n_buckets=4)
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        scd_table_path=str(tmp_path / "scd"),
        max_files_per_trigger=1,
    )
    run_replay_stream(spark, cfg)
    assert LakeTable(spark, cfg.scd_table_path).snapshot().n_buckets == 4


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_streaming_cross_batch_redelivery_matches_oracles(
    spark, tmp_path, tmp_path_factory, strategy
):
    """Nothing upstream of the sink drops re-delivered events: the last
    WAL segment carries verbatim copies of segment 0 (folded by the
    compaction after batch 2) and of segment 3 (batch 3's deltas, not yet
    folded). The main table and the SCD history, both under ``strategy``,
    end equal to their oracles, and the main table's lineage counts the
    re-delivered keys in the last batch's ``rows_in``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from airbyte_spark.feedgen import oracle_final_state
    from airbyte_spark.functions.text import canonicalize_pandas
    from airbyte_spark.lake.scd import read_scd
    from tests.util import assert_same

    feed = str(tmp_path_factory.mktemp("scdredeliver"))
    ev = generate_feed(feed, dataclasses.replace(SPEC, n_segments=4))
    segs = sorted(os.listdir(feed))
    again = pa.concat_tables([pq.read_table(f"{feed}/{n}") for n in (segs[0], segs[3])])
    pq.write_table(again, f"{feed}/segment-00004.parquet")
    for i, name in enumerate(sorted(os.listdir(feed))):
        os.utime(os.path.join(feed, name), (1_000_000_000 + i,) * 2)
    cfg = ReplayConfig(
        feed_dir=feed,
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        scd_table_path=str(tmp_path / "tbl_scd"),
        max_files_per_trigger=1,
        strategy=strategy,
        scd_strategy=strategy,
        compact_every_batches=3,
    )
    run_replay_stream(spark, cfg)

    main = LakeTable(spark, cfg.table_path)
    assert_same(main.read(), oracle_final_state(ev, canonicalize=canonicalize_pandas))
    _assert_df_equal(
        read_scd(LakeTable(spark, cfg.scd_table_path)), _batch_scd(spark, feed)
    )
    (last,) = [x for x in main.snapshot().lineage if x.get("batch_id") == 4]
    keys = zip(again["conv_id"].to_pylist(), again["turn_idx"].to_pylist())
    assert last["rows_in"] == len(set(keys))
