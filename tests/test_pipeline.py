"""Table-to-table incremental pipeline (lake.pipeline.tail_into): fenced
CDF tail from one LakeTable into another — Delta readChangeFeed->MERGE /
medallion parity. Covers catch-up, idempotent re-tail, incremental
advance, transform hops, truncate-boundary re-sync (overwrite AND
rollback), bounded work + crash-shaped resume, and a 3-hop chain."""

import numpy as np
import pytest

from airbyte_spark.catalog import TableSchema
from airbyte_spark.feedgen import FeedSpec, generate_feed
from airbyte_spark.lake import LakeTable, merge_batch
from airbyte_spark.lake.pipeline import tail_into
from airbyte_spark.schemas import CHANGE_STRUCT, ORDER_COLS, PK, TRANSCRIPT_STRUCT

from pyspark.sql import functions as F
from pyspark.sql import types as T

SPEC = FeedSpec(n_convs=14, turns_per_conv=3, n_updates=70, n_deletes=10,
                dup_rate=0.05, late_rate=0.05, n_segments=2, seed=77)


def _mk_table(spark, path, n_buckets=4):
    return LakeTable.create(
        spark, str(path), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=n_buckets,
    )


def _rows(table, cols=("conv_id", "turn_idx", "text")):
    return sorted(tuple(r) for r in table.read().select(*cols).collect())


def _batches(spark, feed_dir, n):
    ev = generate_feed(str(feed_dir), SPEC)
    cols = [f.name for f in CHANGE_STRUCT.fields]
    return [
        spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT)
        for idx in np.array_split(np.arange(len(ev)), n)
    ]


def test_tail_into_catchup_idempotent_and_incremental(spark, tmp_path, tmp_path_factory):
    batches = _batches(spark, tmp_path_factory.mktemp("plfeed"), 4)
    src = _mk_table(spark, tmp_path / "src")
    dst = _mk_table(spark, tmp_path / "dst")
    for i, b in enumerate(batches[:3]):
        merge_batch(src, b, ORDER_COLS, app_id="ing", batch_id=i, strategy="mor")

    # catch-up from scratch: one coalesced stretch -> ONE dst commit
    st = tail_into(src, dst)
    assert st.applied == 1 and not st.resyncs
    assert _rows(dst) == _rows(src)

    # idempotent: nothing new -> no dst commit
    v = dst.snapshot().version
    st = tail_into(src, dst)
    assert st.applied == 0 and dst.snapshot().version == v

    # incremental: one more src commit -> exactly the delta lands
    merge_batch(src, batches[3], ORDER_COLS, app_id="ing", batch_id=3, strategy="mor")
    st = tail_into(src, dst)
    assert st.applied == 1
    assert _rows(dst) == _rows(src)

    # tombstones mirrored too (late lower-LSN events must not resurrect
    # in dst any more than in src)
    s = sorted(tuple(r) for r in src.read(include_meta=True, include_deleted=True)
               .select("conv_id", "turn_idx", "__lsn", "__deleted").collect())
    d = sorted(tuple(r) for r in dst.read(include_meta=True, include_deleted=True)
               .select("conv_id", "turn_idx", "__lsn", "__deleted").collect())
    assert s == d


def test_tail_into_transform_hop(spark, tmp_path, tmp_path_factory):
    """Silver hop: transform runs on change rows and must be applied on
    BOTH the merge path and the re-sync path."""
    batches = _batches(spark, tmp_path_factory.mktemp("plfeed2"), 2)
    src = _mk_table(spark, tmp_path / "src")
    dst = _mk_table(spark, tmp_path / "dst")

    def silver(df):
        return df.withColumn("text", F.upper(F.col("text")))

    merge_batch(src, batches[0], ORDER_COLS, app_id="ing", batch_id=0, strategy="mor")
    tail_into(src, dst, transform=silver)
    # mid-stream full refresh forces the re-sync path on the next tail
    src.overwrite(src.read(include_meta=True), lsn_col="__lsn")
    merge_batch(src, batches[1], ORDER_COLS, app_id="ing", batch_id=1, strategy="mor")
    st = tail_into(src, dst, transform=silver)
    assert st.resyncs

    expect = sorted(
        (r.conv_id, r.turn_idx, r.text.upper())
        for r in src.read().select("conv_id", "turn_idx", "text").collect()
    )
    assert _rows(dst) == expect


@pytest.mark.parametrize("boundary", ["overwrite", "rollback"])
def test_tail_into_truncate_boundary_resync(spark, tmp_path, tmp_path_factory, boundary):
    batches = _batches(spark, tmp_path_factory.mktemp(f"plfeed3{boundary}"), 4)
    src = _mk_table(spark, tmp_path / "src")
    dst = _mk_table(spark, tmp_path / "dst")
    for i, b in enumerate(batches[:2]):
        merge_batch(src, b, ORDER_COLS, app_id="ing", batch_id=i, strategy="mor")
    tail_into(src, dst)

    if boundary == "overwrite":
        # full refresh drops tombstones and rewrites wholesale
        src.overwrite(src.read(include_meta=True), lsn_col="__lsn")
    else:
        src.rollback(src.snapshot().version - 1)  # back to batch 0 only
    merge_batch(src, batches[2], ORDER_COLS, app_id="ing", batch_id=10, strategy="mor")

    st = tail_into(src, dst)
    assert len(st.resyncs) == 1
    assert _rows(dst) == _rows(src)

    # next tail is a no-op; a further src commit flows incrementally again
    assert tail_into(src, dst).applied == 0
    merge_batch(src, batches[3], ORDER_COLS, app_id="ing", batch_id=11, strategy="mor")
    st = tail_into(src, dst)
    assert st.applied == 1 and not st.resyncs
    assert _rows(dst) == _rows(src)


def test_tail_into_bounded_work_resumes(spark, tmp_path, tmp_path_factory):
    """max_segments bounds one call (= the crash-between-segments shape:
    every segment is fenced, so stopping and re-calling resumes exactly)."""
    batches = _batches(spark, tmp_path_factory.mktemp("plfeed4"), 3)
    src = _mk_table(spark, tmp_path / "src")
    dst = _mk_table(spark, tmp_path / "dst")
    merge_batch(src, batches[0], ORDER_COLS, app_id="ing", batch_id=0, strategy="mor")
    src.overwrite(src.read(include_meta=True), lsn_col="__lsn")
    merge_batch(src, batches[1], ORDER_COLS, app_id="ing", batch_id=1, strategy="mor")
    src.overwrite(src.read(include_meta=True), lsn_col="__lsn")
    merge_batch(src, batches[2], ORDER_COLS, app_id="ing", batch_id=2, strategy="mor")

    applied = []
    while True:
        st = tail_into(src, dst, max_segments=1)
        if st.applied == 0 and not st.resyncs:
            break
        applied.append((st.applied, tuple(st.resyncs)))
    assert len(applied) >= 4  # stretch, resync, stretch, resync, stretch
    assert _rows(dst) == _rows(src)


def test_tail_into_propagates_schema_evolution(spark, tmp_path, tmp_path_factory):
    """src evolves (add tool_version, widen turn_idx) mid-stream; the next
    tail evolves dst FIRST, so post-evolve change rows land with the new
    column instead of being conformed away."""
    from airbyte_spark.catalog import diff_schemas

    batches = _batches(spark, tmp_path_factory.mktemp("plfeed6"), 2)
    src = _mk_table(spark, tmp_path / "src")
    dst = _mk_table(spark, tmp_path / "dst")
    merge_batch(src, batches[0], ORDER_COLS, app_id="ing", batch_id=0, strategy="mor")
    tail_into(src, dst)

    target = T.StructType(
        [
            f if f.name != "turn_idx" else T.StructField("turn_idx", T.LongType(), True)
            for f in TRANSCRIPT_STRUCT.fields
        ]
        + [T.StructField("tool_version", T.StringType(), True)]
    )
    src.evolve(diff_schemas(src.snapshot().schema, target, primary_key=list(PK)))
    b2 = batches[1].withColumn(
        "tool_version", F.concat(F.lit("v"), F.col("turn_idx").cast("string"))
    )
    merge_batch(src, b2, ORDER_COLS, app_id="ing", batch_id=1, strategy="mor")

    st = tail_into(src, dst)
    assert st.applied == 1
    assert dst.snapshot().schema.to_struct()["tool_version"].dataType == T.StringType()
    assert dst.snapshot().schema.to_struct()["turn_idx"].dataType == T.LongType()
    cols = ("conv_id", "turn_idx", "text", "tool_version")
    assert _rows(dst, cols) == _rows(src, cols)

    # a transform hop does NOT auto-evolve (it owns its output schema)
    dst2 = _mk_table(spark, tmp_path / "dst2")
    tail_into(src, dst2, transform=lambda df: df)
    assert "tool_version" not in [f.name for f in dst2.snapshot().schema.to_struct().fields]


def test_job_cli_tail_to(spark, tmp_path, tmp_path_factory):
    """--tail-to: bounded sync then a CLI medallion hop — downstream table
    auto-bootstrapped with the source's layout and caught up, fenced so a
    second identical run applies nothing."""
    feed = tmp_path_factory.mktemp("jtfeed")
    generate_feed(str(feed), SPEC)
    from airbyte_spark import job

    args = [
        "--feed-dir", str(feed),
        "--table", str(tmp_path / "tbl"),
        "--checkpoint", str(tmp_path / "ck"),
        "--n-buckets", "4", "--strategy", "mor",
        "--tail-to", str(tmp_path / "silver"),
    ]
    job.main(args)
    src = LakeTable(spark, str(tmp_path / "tbl"))
    silver = LakeTable(spark, str(tmp_path / "silver"))
    assert silver.snapshot().n_buckets == src.snapshot().n_buckets
    assert _rows(silver) == _rows(src)
    # rerun: the shared checkpoint yields no new micro-batches, src is
    # unchanged, and the tail applies nothing — no new silver commit
    v = silver.snapshot().version
    job.main(args)
    assert silver.snapshot().version == v


def test_tail_scd_into_mirror_and_rollback_resync(spark, tmp_path, tmp_path_factory):
    """SCD-history mirror: version rows tail downstream as O(changes) MOR
    appends (across mixed MOR and COW source commits), read_scd(dst) byte-
    equals read_scd(src); a source rollback re-syncs dst from the resolved
    boundary snapshot and tailing resumes."""
    from airbyte_spark.lake.pipeline import tail_scd_into
    from airbyte_spark.lake.scd import bootstrap_scd_table, read_scd, scd_merge_batch
    from airbyte_spark.schemas import CHANGE_STRUCT, CURSOR

    def assert_scd_equal(a, b):
        cols = sorted(a.columns)
        assert sorted(b.columns) == cols
        assert a.select(cols).exceptAll(b.select(cols)).count() == 0
        assert b.select(cols).exceptAll(a.select(cols)).count() == 0

    batches = _batches(spark, tmp_path_factory.mktemp("plfeed7"), 3)
    src = bootstrap_scd_table(
        spark, str(tmp_path / "src"), CHANGE_STRUCT, PK, cursor=CURSOR, n_buckets=4
    )
    dst = bootstrap_scd_table(
        spark, str(tmp_path / "dst"), CHANGE_STRUCT, PK, cursor=CURSOR, n_buckets=4
    )
    scd_merge_batch(src, batches[0], PK, cursor=CURSOR, app_id="ing",
                    batch_id=0, strategy="mor")
    scd_merge_batch(src, batches[1], PK, cursor=CURSOR, app_id="ing",
                    batch_id=1, strategy="cow")
    st = tail_scd_into(src, dst)
    assert st.applied >= 1 and not st.resyncs
    assert_scd_equal(read_scd(dst), read_scd(src))
    assert tail_scd_into(src, dst).applied == 0  # idempotent

    # time-traveled resolution: read_scd at a historical commit
    v0 = src.snapshot().version
    hist0 = read_scd(src).collect()

    v_keep = src.snapshot().version - 1
    src.rollback(v_keep)
    scd_merge_batch(src, batches[2], PK, cursor=CURSOR, app_id="ing",
                    batch_id=5, strategy="mor")
    st = tail_scd_into(src, dst)
    assert len(st.resyncs) == 1
    assert_scd_equal(read_scd(dst), read_scd(src))
    key = lambda r: tuple(map(repr, r))  # noqa: E731 (None-safe sort)
    assert sorted(map(tuple, read_scd(src, at_version=v0).collect()), key=key) == \
        sorted(map(tuple, hist0), key=key)


from hypothesis import given, settings, strategies as st

_OPS = ["create", "evolve", "compact", "scd_compact", "rebucket",
        "append", "merge", "scd_merge", "overwrite", "rollback"]


@settings(max_examples=200, deadline=None)
@given(ops=st.lists(st.sampled_from(_OPS), max_size=30), lo=st.integers(0, 3))
def test_segments_partition_property(ops, lo):
    """_segments invariants for ANY commit-op sequence: (a) stretches and
    resync points are strictly increasing and disjoint; (b) every
    row-attributable commit falls inside exactly one stretch; (c) the
    resync points are the LAST truncate of each adjacent truncate run —
    a truncate with no attributable commit before the next truncate is
    dead work (its overwrite would be fully replaced) and is superseded;
    (d) no stretch spans a truncate; (e) noop commits create no segment."""
    from airbyte_spark.lake.pipeline import (
        _ATTRIBUTABLE_OPS, _NOOP_OPS, _segments,
    )

    versioned = [(lo + 1 + i, op) for i, op in enumerate(ops)]
    segs = _segments(versioned, lo)
    truncates = [v for v, op in versioned
                 if op not in _ATTRIBUTABLE_OPS and op not in _NOOP_OPS]
    attributable = [v for v, op in versioned if op in _ATTRIBUTABLE_OPS]

    surviving = [
        t for i, t in enumerate(truncates)
        if i == len(truncates) - 1
        or any(t < v < truncates[i + 1] for v in attributable)
    ]
    assert [s[1] for s in segs if s[0] == "resync"] == surviving
    covered = set()
    last_hi = lo
    for s in segs:
        if s[0] == "resync":
            assert s[1] > last_hi
            last_hi = s[1]
            continue
        _, a, b = s
        assert a >= last_hi and b > a
        assert not any(a < t <= b for t in truncates)  # no stretch spans one
        covered.update(v for v in attributable if a < v <= b)
        last_hi = b
    assert covered == set(attributable)


def test_tail_into_lsn_tie_keeps_earliest_commit(spark, tmp_path, tmp_path_factory):
    """Conflicting re-delivery: the same (pk, lsn) lands in two source
    commits with DIFFERENT payloads. The source's own resolution keeps the
    earliest commit's row (MOR tiebreak / COW 'target keeps on tie'); the
    tail's within-stretch collapse must pick the same winner or dst
    silently diverges."""
    import datetime as dt

    src = _mk_table(spark, tmp_path / "src")
    dst = _mk_table(spark, tmp_path / "dst")

    def row(text, upd):
        return (
            "conv-1", 0, "user", text, None, dt.datetime(2024, 1, 1),
            77, dt.datetime(2024, 1, 1, upd), None, dt.datetime(2024, 1, 1, upd),
        )

    b1 = spark.createDataFrame([row("first-delivery", 1)], schema=CHANGE_STRUCT)
    b2 = spark.createDataFrame([row("conflicting-redelivery", 2)], schema=CHANGE_STRUCT)
    merge_batch(src, b1, ORDER_COLS, app_id="ing", batch_id=0, strategy="mor")
    merge_batch(src, b2, ORDER_COLS, app_id="ing", batch_id=1, strategy="mor")
    src_text = src.read().select("text").first()["text"]
    tail_into(src, dst)
    assert dst.read().select("text").first()["text"] == src_text


def test_tail_scd_into_lagging_consumer_resyncs(spark, tmp_path, tmp_path_factory):
    """SCD mirror behind the source's scd_compact+vacuum window degrades
    to a resolved-snapshot re-sync instead of erroring forever."""
    from airbyte_spark.lake.pipeline import tail_scd_into
    from airbyte_spark.lake.scd import (
        bootstrap_scd_table, read_scd, scd_compact, scd_merge_batch,
    )
    from airbyte_spark.schemas import CHANGE_STRUCT, CURSOR

    batches = _batches(spark, tmp_path_factory.mktemp("slagfeed"), 2)
    src = bootstrap_scd_table(
        spark, str(tmp_path / "src"), CHANGE_STRUCT, PK, cursor=CURSOR, n_buckets=4
    )
    dst = bootstrap_scd_table(
        spark, str(tmp_path / "dst"), CHANGE_STRUCT, PK, cursor=CURSOR, n_buckets=4
    )
    scd_merge_batch(src, batches[0], PK, cursor=CURSOR, app_id="ing",
                    batch_id=0, strategy="mor")
    tail_scd_into(src, dst)
    scd_merge_batch(src, batches[1], PK, cursor=CURSOR, app_id="ing",
                    batch_id=1, strategy="mor")
    scd_compact(src)
    src.vacuum()  # batch 1's delta files gone
    st = tail_scd_into(src, dst)
    assert st.resyncs
    a, b = read_scd(dst), read_scd(src)
    cols = sorted(a.columns)
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_job_cli_tail_to_with_compact_stays_incremental(spark, tmp_path, tmp_path_factory, capsys):
    """--tail-to combined with --compact: the hop runs BEFORE the fold+
    vacuum, so it reads the delta files incrementally (no forced
    full-table re-sync)."""
    feed = tmp_path_factory.mktemp("jtcfeed")
    generate_feed(str(feed), SPEC)
    from airbyte_spark import job

    job.main([
        "--feed-dir", str(feed),
        "--table", str(tmp_path / "tbl"),
        "--checkpoint", str(tmp_path / "ck"),
        "--n-buckets", "4", "--strategy", "mor",
        "--compact",
        "--tail-to", str(tmp_path / "silver"),
    ])
    out = capsys.readouterr().out
    assert "resyncs=[]" in out
    src = LakeTable(spark, str(tmp_path / "tbl"))
    silver = LakeTable(spark, str(tmp_path / "silver"))
    assert _rows(silver) == _rows(src)


def test_tail_into_lagging_consumer_resyncs_after_vacuum(spark, tmp_path, tmp_path_factory):
    """A consumer that fell behind the source's compaction+vacuum window
    can't read the folded delta files any more — the unreadable stretch
    degrades to a fenced snapshot re-sync instead of erroring forever,
    and later commits flow incrementally again."""
    batches = _batches(spark, tmp_path_factory.mktemp("plfeed8"), 3)
    src = _mk_table(spark, tmp_path / "src")
    dst = _mk_table(spark, tmp_path / "dst")
    merge_batch(src, batches[0], ORDER_COLS, app_id="ing", batch_id=0, strategy="mor")
    tail_into(src, dst)
    # consumer goes offline; source keeps ingesting, folds, vacuums
    merge_batch(src, batches[1], ORDER_COLS, app_id="ing", batch_id=1, strategy="mor")
    src.compact()
    src.vacuum()  # grace 0: batch 1's delta files are gone
    st = tail_into(src, dst)
    assert st.resyncs  # degraded to snapshot re-sync, not an exception
    assert _rows(dst) == _rows(src)
    # back on the cheap path afterwards
    merge_batch(src, batches[2], ORDER_COLS, app_id="ing", batch_id=2, strategy="mor")
    st = tail_into(src, dst)
    assert st.applied == 1 and not st.resyncs
    assert _rows(dst) == _rows(src)


def test_materialized_agg_incremental_maintenance(spark, tmp_path, tmp_path_factory):
    """Materialized aggregate view: per-conversation turn counts + max lsn
    maintained incrementally from the change feed — equals the full
    GROUP BY recompute after every commit batch, across merges, a
    truncate boundary, and group disappearance (all rows deleted)."""
    from airbyte_spark.lake.pipeline import bootstrap_agg_table, materialized_agg_into

    batches = _batches(spark, tmp_path_factory.mktemp("magfeed"), 3)
    src = _mk_table(spark, tmp_path / "src")
    AGGS = {
        "n_turns": F.count(F.lit(1)).cast("long"),
        "max_turn": F.max("turn_idx").cast("long"),
    }
    dst = bootstrap_agg_table(spark, str(tmp_path / "agg"), src, ["conv_id"], AGGS)

    def expect():
        return sorted(
            tuple(r)
            for r in src.read()
            .groupBy("conv_id")
            .agg(*[c.alias(n) for n, c in AGGS.items()])
            .collect()
        )

    def got():
        return sorted(tuple(r) for r in dst.read().collect())

    for i, b in enumerate(batches[:2]):
        merge_batch(src, b, ORDER_COLS, app_id="ing", batch_id=i, strategy="mor")
        st = materialized_agg_into(src, dst, ["conv_id"], AGGS)
        assert st.applied >= 1
        assert got() == expect()

    # delete EVERY row of one conversation -> its group row must vanish
    victim = src.read().select("conv_id").first()["conv_id"]
    kill = (
        src.read()
        .filter(F.col("conv_id") == victim)
        .select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
            F.lit(10**15).alias("_ab_cdc_lsn"),
            F.current_timestamp().alias("_ab_cdc_updated_at"),
            F.current_timestamp().alias("_ab_cdc_deleted_at"),
            F.current_timestamp().alias("_airbyte_emitted_at"),
        )
    )
    merge_batch(src, kill, ORDER_COLS, app_id="ing", batch_id=50, strategy="mor")
    materialized_agg_into(src, dst, ["conv_id"], AGGS)
    assert got() == expect()
    assert victim not in {r[0] for r in got()}

    # truncate boundary -> one full refresh, then incremental again
    src.overwrite(src.read(include_meta=True), lsn_col="__lsn")
    merge_batch(src, batches[2], ORDER_COLS, app_id="ing", batch_id=51, strategy="mor")
    st = materialized_agg_into(src, dst, ["conv_id"], AGGS)
    assert st.resyncs
    assert got() == expect()
    # idempotent
    assert materialized_agg_into(src, dst, ["conv_id"], AGGS).applied == 0


def test_streaming_continuous_tail(spark, tmp_path, tmp_path_factory):
    """tail_to_path in the streaming loop: the downstream mirror advances
    per micro-batch (before that trigger's compaction/vacuum, so the tail
    never races a fold) and ends byte-equal to the main table."""
    from airbyte_spark.streaming import ReplayConfig, run_replay_stream

    feed = tmp_path_factory.mktemp("sctfeed")
    generate_feed(str(feed), SPEC)
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        max_files_per_trigger=1,  # several micro-batches
        strategy="mor",
        compact_every_batches=2,  # interleave folds + vacuum with the tail
        tail_to_path=str(tmp_path / "silver"),
    )
    run_replay_stream(spark, cfg)
    table = LakeTable(spark, str(tmp_path / "tbl"))
    silver = LakeTable(spark, str(tmp_path / "silver"))
    # advanced per micro-batch: one hop commit per merge commit
    n_merges = table.lineage_df().count()
    assert n_merges >= 2 and silver.snapshot().version == n_merges
    assert _rows(silver) == _rows(table)


def test_tail_chain_three_hops(spark, tmp_path, tmp_path_factory):
    """bronze -> silver -> gold: each hop fenced independently in its dst."""
    batches = _batches(spark, tmp_path_factory.mktemp("plfeed5"), 2)
    bronze = _mk_table(spark, tmp_path / "bronze")
    silver = _mk_table(spark, tmp_path / "silver")
    gold = _mk_table(spark, tmp_path / "gold")
    for i, b in enumerate(batches):
        merge_batch(bronze, b, ORDER_COLS, app_id="ing", batch_id=i, strategy="mor")
        tail_into(bronze, silver, app_id="b2s")
        tail_into(silver, gold, app_id="s2g")
    assert _rows(gold) == _rows(silver) == _rows(bronze)


def test_tail_into_trailing_rename_evolve_translates_old_change_rows(
    spark, tmp_path, tmp_path_factory
):
    """A rename evolve that lands AFTER the backlog's last merge: the
    change rows are projected to their segment-end (pre-rename) schema and
    still carry the old column name, while dst has already evolved to the
    head schema — without the rename translation the merge conform would
    null the renamed column out for every row."""
    from airbyte_spark.catalog import diff_schemas

    batches = _batches(spark, tmp_path_factory.mktemp("plfeed8"), 1)
    src = _mk_table(spark, tmp_path / "src")
    dst = _mk_table(spark, tmp_path / "dst")
    merge_batch(src, batches[0], ORDER_COLS, app_id="ing", batch_id=0, strategy="mor")
    target = T.StructType(
        [
            f if f.name != "tool" else T.StructField("tool_name", f.dataType, True)
            for f in TRANSCRIPT_STRUCT.fields
        ]
    )
    src.evolve(
        diff_schemas(
            src.snapshot().schema, target, primary_key=list(PK),
            rename_hints={"tool": "tool_name"},
        )
    )

    st = tail_into(src, dst, rename_hints={"tool": "tool_name"})
    assert st.applied == 1
    cols = ("conv_id", "turn_idx", "tool_name")
    assert _rows(dst, cols) == _rows(src, cols)
    assert dst.read().filter(F.col("tool_name").isNotNull()).count() > 0


def test_tail_into_fence_advances_past_noop_commits(
    spark, tmp_path, tmp_path_factory
):
    """Non-row-attributable no-op commits (evolve/compact cycles on a
    quiet stream) must still advance the consumer's fence — otherwise a
    caught-up consumer re-scans the same commit range every poll and,
    once the stale fence expires from the src log window, degrades to a
    spurious full re-sync."""
    from airbyte_spark.catalog import diff_schemas

    batches = _batches(spark, tmp_path_factory.mktemp("plfeed9"), 1)
    src = _mk_table(spark, tmp_path / "src")
    dst = _mk_table(spark, tmp_path / "dst")
    merge_batch(src, batches[0], ORDER_COLS, app_id="ing", batch_id=0, strategy="mor")
    st = tail_into(src, dst)
    assert st.applied == 1 and st.to_version == src.snapshot().version

    # noop-only traffic: a metadata evolve and a compaction
    target = T.StructType(
        list(TRANSCRIPT_STRUCT.fields)
        + [T.StructField("tool_version", T.StringType(), True)]
    )
    src.evolve(diff_schemas(src.snapshot().schema, target, primary_key=list(PK)))
    src.compact(min_files=1)
    head = src.snapshot().version

    st = tail_into(src, dst)
    assert st.applied == 0 and not st.resyncs
    assert st.to_version == head
    assert dst.snapshot().fences["table_tail"] == head

    # fully caught up: the next poll early-returns without a dst commit
    v = dst.snapshot().version
    st2 = tail_into(src, dst)
    assert st2.applied == 0 and st2.to_version == head
    assert dst.snapshot().version == v


def test_materialized_agg_group_move_and_delete_refreshes_old_group(
    spark, tmp_path, tmp_path_factory
):
    """Change rows carry only their NEW group values: an update that moves
    a row across groups and a delete (whose tombstone has null payload)
    must still refresh the group the row LEFT, via the pre-image keys from
    the segment-start snapshot. Groups here are NON-pk (role), so the
    tombstone rows cannot name them."""
    import datetime

    from airbyte_spark.lake.pipeline import bootstrap_agg_table, materialized_agg_into

    TS = datetime.datetime(2025, 1, 1)

    def row(conv, turn, role, lsn, deleted=False):
        return (
            conv, turn, role, "txt", None, TS, lsn, TS,
            TS if deleted else None, TS,
        )

    src = _mk_table(spark, tmp_path / "src")
    AGGS = {"n": F.count(F.lit(1)).cast("long")}
    b0 = spark.createDataFrame(
        [row("c1", 0, "user", 10), row("c1", 1, "assistant", 11),
         row("c2", 0, "user", 12)],
        CHANGE_STRUCT,
    )
    merge_batch(src, b0, ORDER_COLS, app_id="ing", batch_id=0, strategy="mor")
    dst = bootstrap_agg_table(spark, str(tmp_path / "agg"), src, ["role"], AGGS)
    materialized_agg_into(src, dst, ["role"], AGGS)

    def got():
        return sorted(tuple(r) for r in dst.read().collect())

    assert got() == [("assistant", 1), ("user", 2)]

    # c1/0 MOVES user->assistant; c2/0 deleted — 'user' loses both rows
    # and must drop out of the view entirely
    b1 = spark.createDataFrame(
        [row("c1", 0, "assistant", 20), row("c2", 0, "user", 21, deleted=True)],
        CHANGE_STRUCT,
    )
    merge_batch(src, b1, ORDER_COLS, app_id="ing", batch_id=1, strategy="mor")
    st = materialized_agg_into(src, dst, ["role"], AGGS)
    assert st.applied == 1
    assert got() == [("assistant", 2)]


def test_tail_scd_into_propagates_schema_evolution(
    spark, tmp_path, tmp_path_factory
):
    """SCD mirror across a src schema evolution: dst evolves before rows
    land, so version rows carrying the new column keep it (without
    propagation the MOR conform would null it out forever, breaking the
    byte-equality contract)."""
    from airbyte_spark.catalog import diff_schemas
    from airbyte_spark.lake.pipeline import tail_scd_into
    from airbyte_spark.lake.scd import bootstrap_scd_table, read_scd, scd_merge_batch
    from airbyte_spark.schemas import CHANGE_STRUCT, CURSOR

    def assert_scd_equal(a, b):
        cols = sorted(a.columns)
        assert sorted(b.columns) == cols
        assert a.select(cols).exceptAll(b.select(cols)).count() == 0
        assert b.select(cols).exceptAll(a.select(cols)).count() == 0

    batches = _batches(spark, tmp_path_factory.mktemp("plfeed10"), 2)
    src = bootstrap_scd_table(
        spark, str(tmp_path / "src"), CHANGE_STRUCT, PK, cursor=CURSOR, n_buckets=4
    )
    dst = bootstrap_scd_table(
        spark, str(tmp_path / "dst"), CHANGE_STRUCT, PK, cursor=CURSOR, n_buckets=4
    )
    scd_merge_batch(src, batches[0], PK, cursor=CURSOR, app_id="ing",
                    batch_id=0, strategy="mor")
    tail_scd_into(src, dst)

    cur = src.snapshot().schema.to_struct()
    target = T.StructType(
        list(cur.fields) + [T.StructField("tool_version", T.StringType(), True)]
    )
    src.evolve(
        diff_schemas(
            src.snapshot().schema, target,
            primary_key=list(src.snapshot().primary_key),
        )
    )
    b1 = batches[1].withColumn(
        "tool_version", F.concat(F.lit("v"), F.col("turn_idx").cast("string"))
    )
    scd_merge_batch(src, b1, PK, cursor=CURSOR, app_id="ing",
                    batch_id=1, strategy="mor")

    st = tail_scd_into(src, dst)
    assert st.applied >= 1
    assert_scd_equal(read_scd(dst), read_scd(src))
    assert read_scd(dst).filter(F.col("tool_version").isNotNull()).count() > 0


def test_job_cli_n_buckets_honored_on_streaming_path(spark, tmp_path, tmp_path_factory):
    """--n-buckets must pin the table layout on the STREAMING path too,
    not only --backfill (the runner's bootstrap is open-if-exists, so the
    CLI creates the table first)."""
    from airbyte_spark import job

    feed = tmp_path_factory.mktemp("jnbfeed")
    generate_feed(str(feed), SPEC)
    job.main([
        "--feed-dir", str(feed),
        "--table", str(tmp_path / "tbl"),
        "--checkpoint", str(tmp_path / "ck"),
        "--n-buckets", "4", "--strategy", "mor",
    ])
    t = LakeTable(spark, str(tmp_path / "tbl"))
    assert t.snapshot().n_buckets == 4
    assert t.read().count() > 0


def test_job_cli_backfill_runs_post_sync_steps(spark, tmp_path, tmp_path_factory, capsys):
    """--backfill is a bounded sync like any other: the --tail-to hop and
    --schema-tests battery must run after it instead of being silently
    skipped by an early return."""
    from airbyte_spark import job

    feed = tmp_path_factory.mktemp("jbffeed")
    generate_feed(str(feed), SPEC)
    job.main([
        "--feed-dir", str(feed),
        "--table", str(tmp_path / "tbl"),
        "--checkpoint", str(tmp_path / "ck"),
        "--n-buckets", "4", "--backfill",
        "--tail-to", str(tmp_path / "silver"),
        "--schema-tests",
    ])
    out = capsys.readouterr().out
    assert "schema_tests" in out  # the battery ran (and passed: no exit 1)
    silver = LakeTable(spark, str(tmp_path / "silver"))
    main_t = LakeTable(spark, str(tmp_path / "tbl"))
    assert _rows(silver) == _rows(main_t)


def test_materialized_agg_randomized_against_full_recompute(spark, tmp_path):
    """Randomized model check for incremental view maintenance: random
    upserts (including group MOVES on the non-pk group column), deletes,
    and a truncate boundary — after every maintenance call the view must
    equal the full GROUP BY of the source's head state (pre-image keys,
    gone-group tombstones, fence advance all exercised)."""
    import random

    from airbyte_spark.lake.pipeline import bootstrap_agg_table, materialized_agg_into

    rng = random.Random(7)
    import datetime

    TS = datetime.datetime(2025, 1, 1)
    ROLES = ["user", "assistant", "tool", "system"]

    def row(conv, turn, role, lsn, deleted=False):
        return (conv, turn, role, "txt", None, TS, lsn, TS,
                TS if deleted else None, TS)

    src = _mk_table(spark, tmp_path / "src")
    AGGS = {
        "n": F.count(F.lit(1)).cast("long"),
        "mx": F.max("turn_idx").cast("long"),
    }
    dst = bootstrap_agg_table(spark, str(tmp_path / "agg"), src, ["role"], AGGS)

    def expect():
        return sorted(
            tuple(r)
            for r in src.read().groupBy("role")
            .agg(*[c.alias(n) for n, c in AGGS.items()]).collect()
        )

    def got():
        return sorted(tuple(r) for r in dst.read().collect())

    lsn = 0
    keys = [(f"c{i}", t) for i in range(6) for t in range(3)]
    for rnd in range(8):
        batch = []
        for _ in range(rng.randint(2, 6)):
            conv, turn = rng.choice(keys)
            lsn += 1
            if rng.random() < 0.2:
                batch.append(row(conv, turn, rng.choice(ROLES), lsn, deleted=True))
            else:
                batch.append(row(conv, turn, rng.choice(ROLES), lsn))
        merge_batch(src, spark.createDataFrame(batch, CHANGE_STRUCT),
                    ORDER_COLS, app_id="ing", batch_id=rnd, strategy="mor")
        if rnd == 5:  # truncate boundary mid-stream
            src.overwrite(src.read(include_meta=True), lsn_col="__lsn")
        materialized_agg_into(src, dst, ["role"], AGGS)
        assert got() == expect(), f"diverged at round {rnd}"


def test_job_cli_backfill_with_scd_flags_does_not_crash(spark, tmp_path, tmp_path_factory):
    """--backfill never creates the SCD table; combining it with
    --scd-table and --compact/--schema-tests must skip the missing table
    (like child tables), not crash opening a nonexistent _log dir."""
    from airbyte_spark import job

    feed = tmp_path_factory.mktemp("jbsfeed")
    generate_feed(str(feed), SPEC)
    job.main([
        "--feed-dir", str(feed),
        "--table", str(tmp_path / "tbl"),
        "--checkpoint", str(tmp_path / "ck"),
        "--n-buckets", "4", "--backfill",
        "--scd-table", str(tmp_path / "never_created_scd"),
        "--compact", "--schema-tests",
    ])
    assert LakeTable(spark, str(tmp_path / "tbl")).read().count() > 0
