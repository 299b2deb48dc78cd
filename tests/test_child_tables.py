"""P8 in the sync path: per-child-stream LakeTables (one table per nested
array at any depth), fenced independently — the reference's per-child-stream
final tables (stream_processor.py:347-384) — including CDC update/delete
cascades and crash-replay exactly-once PER TABLE."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_spark.feedgen import FeedSpec, generate_feed
from airbyte_spark.lake import LakeTable
from airbyte_spark.lake.children import (
    bootstrap_child_tables,
    child_table_path,
    merge_children_batch,
)
from airbyte_spark.operators.dedup import latest_per_key
from airbyte_spark.operators.unnest import unnest_children_with_specs
from airbyte_spark.schemas import CHANGE_STRUCT, CURSOR, ORDER_COLS, PK
from airbyte_spark.streaming import ReplayConfig, run_replay_stream

#: transcript change feed + a scalar-array column and a 2-deep nested column
NESTED_STRUCT = T.StructType(
    list(CHANGE_STRUCT.fields)
    + [
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField(
            "steps",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("k", T.LongType(), True),
                        T.StructField("words", T.ArrayType(T.StringType()), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

SPEC = FeedSpec(n_convs=12, turns_per_conv=3, n_updates=80, n_deletes=10,
                dup_rate=0.08, late_rate=0.08, n_segments=4, seed=55)


def _nest(df):
    """Deterministic nested columns derived from (pk, lsn) only — array
    LENGTH varies with the lsn so updates shrink/grow child sets."""
    lsn = F.col("_ab_cdc_lsn")
    tags = F.slice(
        F.array(
            F.concat(F.lit("a-"), F.col("conv_id")),
            F.concat(F.lit("b-"), lsn.cast("string")),
            F.lit("c"),
        ),
        1,
        (F.pmod(lsn, F.lit(3))).cast("int"),
    )
    steps = F.transform(
        F.sequence(F.lit(1), (F.pmod(lsn, F.lit(2)) + F.lit(1)).cast("int")),
        lambda i: F.struct(
            i.cast("long").alias("k"),
            F.array(
                F.concat(F.lit("w"), i.cast("string")),
                F.col("conv_id"),
            ).alias("words"),
        ),
    )
    return df.withColumn("tags", tags).withColumn("steps", steps)


def _mk_nested_feed(spark, src_feed, out_dir, n_segments=4):
    """Rewrite a generated transcript feed as ordered nested segments."""
    raw = _nest(spark.read.schema(CHANGE_STRUCT).parquet(f"{src_feed}/*.parquet"))
    pdf = raw.toPandas().sort_values("_ab_cdc_lsn", kind="stable")
    import os

    os.makedirs(out_dir, exist_ok=True)
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), n_segments)):
        seg = spark.createDataFrame(pdf.iloc[idx], schema=NESTED_STRUCT)
        seg.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/seg-{i:03d}")
    # flatten the part files into ordered top-level segment files
    import glob
    import shutil

    for i in range(n_segments):
        part = glob.glob(f"{out_dir}/seg-{i:03d}/part-*.parquet")[0]
        shutil.move(part, f"{out_dir}/segment-{i:03d}.parquet")
        shutil.rmtree(f"{out_dir}/seg-{i:03d}")
    return raw


def _expected_children(spark, feed_dir):
    """Oracle: unnest the final (latest-per-key, live) parent rows."""
    raw = spark.read.schema(NESTED_STRUCT).parquet(f"{feed_dir}/*.parquet")
    winners = latest_per_key(raw, PK, ORDER_COLS)
    live = winners.filter(F.col("_ab_cdc_deleted_at").isNull())
    return unnest_children_with_specs(
        live, PK, "transcripts", carry_cols=[CURSOR]
    )


def _assert_df_equal(a, b):
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols, (sorted(b.columns), cols)
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_merge_children_cascade_semantics(spark, tmp_path):
    """Direct-drive: upsert by (hashid, pos); array shrink tombstones the
    dropped tail; parent delete cascades to every level; late lower-LSN
    re-delivery cannot resurrect."""
    base = str(tmp_path / "children")
    tables, specs = bootstrap_child_tables(
        spark, base, NESTED_STRUCT, PK, stream_name="transcripts"
    )
    assert {s["name"] for s in specs} == {
        "transcripts_tags", "transcripts_steps", "transcripts_steps_words"
    }

    def batch(rows, bid):
        df = spark.createDataFrame(rows, NESTED_STRUCT)
        return merge_children_batch(
            tables, specs, df, PK, ORDER_COLS, stream_name="transcripts",
            app_id="t", batch_id=bid,
        )

    def row(conv, turn, lsn, tags, steps, deleted=False):
        import datetime

        return (
            conv, turn, "user", "txt", None,
            datetime.datetime(2025, 1, 1),
            lsn, None,
            datetime.datetime(2025, 1, 2) if deleted else None,
            datetime.datetime(2025, 1, 1),
            tags, steps,
        )

    # batch 0: two parents, arrays of len 3 and 1
    batch(
        [
            row("c1", 0, 10, ["x", "y", "z"], [(1, ["a", "b"]), (2, ["c"])]),
            row("c2", 0, 11, ["q"], [(9, ["d"])]),
        ],
        0,
    )
    t_tags = tables["transcripts_tags"]
    assert t_tags.read().count() == 4
    assert tables["transcripts_steps_words"].read().count() == 4

    # batch 1: c1 shrinks tags 3->1 and steps 2->1; c2 deleted entirely
    batch(
        [
            row("c1", 0, 20, ["x2"], [(1, ["a2"])]),
            row("c2", 0, 21, None, None, deleted=True),
        ],
        1,
    )
    tags_rows = t_tags.read().collect()
    assert len(tags_rows) == 1 and tags_rows[0].element == "x2"
    words = tables["transcripts_steps_words"].read().collect()
    assert [w.element for w in words] == ["a2"]
    # tombstones (not physical deletes) guard against resurrection
    with_dead = t_tags.read(include_deleted=True)
    assert with_dead.count() > 1

    # batch 2: LATE lower-LSN copy of c1 re-delivers the length-3 arrays —
    # must not resurrect dropped positions
    batch([row("c1", 0, 15, ["x", "y", "z"], [(1, ["a", "b"]), (2, ["c"])])], 2)
    assert t_tags.read().count() == 1
    assert tables["transcripts_steps_words"].read().count() == 1

    # PHANTOM-POSITION guard: a late event whose array is LONGER than
    # anything ever written must not insert its never-seen positions —
    # the per-parent watermark no-ops the late parent wholesale
    batch([row("c3", 0, 40, ["only"], None)], 3)
    batch([row("c3", 0, 35, ["p0", "p1", "p2", "p3", "p4"], None)], 4)
    c3 = [r.element for r in t_tags.read().filter(
        F.col("_transcripts_hashid") == F.md5(F.lit("c3-0"))
    ).collect()]
    assert c3 == ["only"]

    # EMPTY-ARRAY watermark: array goes empty, then a late fat copy arrives
    batch([row("c4", 0, 50, ["t1", "t2"], None)], 5)
    batch([row("c4", 0, 60, [], None)], 6)
    batch([row("c4", 0, 55, ["z1", "z2", "z3"], None)], 7)
    assert t_tags.read().filter(
        F.col("_transcripts_hashid") == F.md5(F.lit("c4-0"))
    ).count() == 0

    # fenced re-delivery of batch 1 is a per-table no-op
    stats = batch([row("c1", 0, 20, ["BAD"], None)], 1)
    assert all(s.skipped for s in stats.values())
    c1 = t_tags.read().filter(
        F.col("_transcripts_hashid") == F.md5(F.lit("c1-0"))
    ).collect()
    assert [r.element for r in c1] == ["x2"]


def test_job_cli_streams_child_tables(spark, tmp_path, tmp_path_factory):
    """spark-submit CLI parity: --child-tables + --feed-schema-ddl drive
    the nested sync end-to-end; persisted child tables match the unnest of
    the final parent state."""
    from airbyte_spark import job
    from airbyte_spark.lake.children import read_children

    src = tmp_path_factory.mktemp("childcli")
    generate_feed(str(src), FeedSpec(
        n_convs=8, turns_per_conv=2, n_updates=30, n_deletes=4,
        dup_rate=0.05, late_rate=0.05, n_segments=2, seed=77,
    ))
    feed = str(tmp_path / "nested")
    _mk_nested_feed(spark, str(src), feed, n_segments=2)
    children_dir = str(tmp_path / "children")
    job.main([
        "--feed-dir", feed,
        "--table", str(tmp_path / "tbl"),
        "--checkpoint", str(tmp_path / "ck"),
        "--child-tables", children_dir,
        "--feed-schema-ddl", NESTED_STRUCT.toDDL(),
        "--no-canonicalize",
        "--n-buckets", "4",
    ])
    expected, specs = _expected_children(spark, feed)
    got = read_children(spark, children_dir, specs)
    for s in specs:
        _assert_df_equal(got[s["name"]], expected[s["name"]])


def test_child_tables_evolve_with_feed_schema(spark, tmp_path):
    """Child schemas are derived from the feed struct, so a feed evolution
    (new field inside the nested struct) auto-evolves existing child
    tables on re-bootstrap: metadata-only commit, old rows null-pad, new
    rows carry the field — the reference regenerating child models from
    the catalog each sync."""
    import datetime

    base = str(tmp_path / "children")
    tables, specs = bootstrap_child_tables(
        spark, base, NESTED_STRUCT, PK, stream_name="transcripts"
    )

    def row(struct, conv, lsn, steps):
        return spark.createDataFrame(
            [(conv, 0, "user", "t", None, datetime.datetime(2025, 1, 1),
              lsn, None, None, datetime.datetime(2025, 1, 1), ["g"], steps)],
            struct,
        )

    merge_children_batch(
        tables, specs, row(NESTED_STRUCT, "c1", 10, [(1, ["a"])]),
        PK, ORDER_COLS, stream_name="transcripts", app_id="e", batch_id=0,
    )

    evolved = T.StructType(
        list(NESTED_STRUCT.fields[:-1])
        + [
            T.StructField(
                "steps",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("k", T.LongType(), True),
                            T.StructField("words", T.ArrayType(T.StringType()), True),
                            T.StructField("note", T.StringType(), True),
                        ]
                    )
                ),
                True,
            )
        ]
    )
    tables2, specs2 = bootstrap_child_tables(
        spark, base, evolved, PK, stream_name="transcripts"
    )
    assert "note" in [
        f.name for f in tables2["transcripts_steps"].snapshot().schema.fields
    ]
    merge_children_batch(
        tables2, specs2, row(evolved, "c2", 20, [(2, ["b"], "hello")]),
        PK, ORDER_COLS, stream_name="transcripts", app_id="e", batch_id=1,
    )
    got = {
        r.k: r.note
        for r in tables2["transcripts_steps"].read().collect()
    }
    assert got == {1: None, 2: "hello"}  # old row null-padded, new carries it
    # grandchild level untouched by the diff but still consistent
    words = sorted(
        r.element for r in tables2["transcripts_steps_words"].read().collect()
    )
    assert words == ["a", "b"]


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_merge_children_randomized_against_feed_oracle(
    spark, tmp_path, tmp_path_factory, strategy
):
    """Randomized (seeded) equivalence: the nested transcript feed — dups,
    late events, deletes — replayed through merge_children_batch in 6
    UNSORTED interleaved batches (events assigned to batches by hash, so
    late/ahead deliveries cross batch boundaries) must converge to exactly
    the unnest of the final live parent state, at every nesting level —
    under BOTH write strategies (COW bucket rewrites; MOR delta appends
    resolved at scan, then folded by compact) — and stay there when a
    later batch re-delivers earlier batches' events."""
    src = tmp_path_factory.mktemp("childrand")
    generate_feed(str(src), FeedSpec(
        n_convs=15, turns_per_conv=3, n_updates=120, n_deletes=18,
        dup_rate=0.15, late_rate=0.2, hot_fraction=0.4, n_segments=3,
        seed=123,
    ))
    feed = str(tmp_path / "nested")
    _mk_nested_feed(spark, str(src), feed, n_segments=2)
    raw = spark.read.schema(NESTED_STRUCT).parquet(f"{feed}/*.parquet")

    base = str(tmp_path / "children")
    tables, specs = bootstrap_child_tables(
        spark, base, NESTED_STRUCT, PK, stream_name="transcripts"
    )
    # deterministic pseudo-random batch assignment decorrelated from LSN:
    # each batch carries a mix of old and new versions of the same keys
    for i in range(6):
        part = raw.filter(
            F.pmod(F.xxhash64(F.col("_ab_cdc_lsn") * 2654435761), F.lit(6)) == i
        )
        merge_children_batch(
            tables, specs, part, PK, ORDER_COLS, stream_name="transcripts",
            app_id="rand", batch_id=i, strategy=strategy,
        )

    expected, _ = _expected_children(spark, feed)
    for s in specs:
        _assert_df_equal(tables[s["name"]].read(), expected[s["name"]])
    if strategy == "mor":
        # deltas were written; the fold preserves the resolved state
        assert any(
            m.get("kind") == "delta"
            for t in tables.values()
            for m in t.snapshot().files.values()
        )
        for s in specs:
            tables[s["name"]].compact()
            tables[s["name"]].vacuum()
            _assert_df_equal(tables[s["name"]].read(), expected[s["name"]])
    # cross-batch re-delivery: a later batch carries verbatim copies of
    # batches 0 and 5 (under mor both were folded above); nothing drops
    # them before the sink, which must absorb them
    again = raw.filter(
        F.pmod(F.xxhash64(F.col("_ab_cdc_lsn") * 2654435761), F.lit(6)).isin(0, 5)
    )
    merge_children_batch(
        tables, specs, again, PK, ORDER_COLS, stream_name="transcripts",
        app_id="rand", batch_id=6, strategy=strategy,
    )
    for s in specs:
        _assert_df_equal(tables[s["name"]].read(), expected[s["name"]])


def test_streaming_sync_persists_children_exactly_once(
    spark, tmp_path, tmp_path_factory
):
    """Full streaming sync over the nested fixture with a CRASH between the
    parent-table commit and the child-table commits: the restarted sync
    replays the batch; the parent table skips it (fenced) while each child
    table catches up — exactly-once PER TABLE. Final child tables equal the
    unnest of the final parent state."""
    src = tmp_path_factory.mktemp("childsrc")
    generate_feed(str(src), SPEC)
    feed = str(tmp_path / "nested_feed")
    _mk_nested_feed(spark, str(src), feed)

    boom = {"armed": True}

    def fault(batch_id):
        if batch_id == 1 and boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("crash between parent and child commits")

    cfg = ReplayConfig(
        feed_dir=feed,
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        child_tables_path=str(tmp_path / "children"),
        feed_struct=NESTED_STRUCT,
        max_files_per_trigger=1,
        canonicalize=False,
        compact_every_batches=2,  # exercises the mid-stream child fold
        fault_between_tables=fault,
    )
    with pytest.raises(Exception, match="crash between"):
        run_replay_stream(spark, cfg)

    # parent committed batch 1, children did not — fences diverge
    main_fence = LakeTable(spark, cfg.table_path).snapshot().fences[cfg.app_id]
    tags_path = child_table_path(cfg.child_tables_path, "transcripts_tags")
    child_fence = LakeTable(spark, tags_path).snapshot().fences.get(cfg.app_id, -1)
    assert main_fence == 1 and child_fence < 1

    run_replay_stream(spark, cfg)  # restart: replays batch 1, then finishes

    expected, specs = _expected_children(spark, feed)
    for s in specs:
        table = LakeTable(
            spark, child_table_path(cfg.child_tables_path, s["name"])
        )
        _assert_df_equal(table.read(), expected[s["name"]])
        # exactly-once per table: every batch_id fenced/applied at most once
        lineage = [
            x for x in table.snapshot().lineage if x.get("app_id") == cfg.app_id
        ]
        bids = [x["batch_id"] for x in lineage]
        assert len(bids) == len(set(bids))


def _direct_row(conv, turn, lsn, tags, steps, deleted=False):
    import datetime

    return (
        conv, turn, "user", "txt", None,
        datetime.datetime(2025, 1, 1),
        lsn, None,
        datetime.datetime(2025, 1, 2) if deleted else None,
        datetime.datetime(2025, 1, 1),
        tags, steps,
    )


def test_crash_between_levels_replay_catches_up(spark, tmp_path):
    """Crash BETWEEN a child-level commit and the grandchild-level commit:
    the committed level's watermark already equals the batch cursor, so a
    strict-only filter would propagate nothing downward on replay — the
    missed level would commit an empty batch (still advancing its fence)
    and lose the grandchild rows forever. The ties-kept propagation set
    must carry the cascade through."""
    full_tables, specs = bootstrap_child_tables(
        spark, str(tmp_path / "full"), NESTED_STRUCT, PK,
        stream_name="transcripts",
    )
    crash_tables, specs2 = bootstrap_child_tables(
        spark, str(tmp_path / "crash"), NESTED_STRUCT, PK,
        stream_name="transcripts",
    )

    def apply(tables, specs_, rows, bid):
        df = spark.createDataFrame(rows, NESTED_STRUCT)
        return merge_children_batch(
            tables, specs_, df, PK, ORDER_COLS, stream_name="transcripts",
            app_id="t", batch_id=bid,
        )

    rows0 = [_direct_row("c1", 0, 10, ["x", "y"], [(1, ["a", "b"]), (2, ["c"])])]
    rows1 = [_direct_row("c1", 0, 20, ["x"], [(1, ["a2"])])]

    # reference: one uninterrupted run
    apply(full_tables, specs, rows0, 0)
    apply(full_tables, specs, rows1, 1)

    # crashed run: batch 1 commits the tags+steps levels, dies before
    # transcripts_steps_words, then the batch replays after restart
    apply(crash_tables, specs2, rows0, 0)
    partial = [s for s in specs2 if s["name"] != "transcripts_steps_words"]
    apply(crash_tables, partial, rows1, 1)
    apply(crash_tables, specs2, rows1, 1)  # replay

    for s in specs:
        name = s["name"]
        _assert_df_equal(crash_tables[name].read(), full_tables[name].read())
    words = [r.element for r in crash_tables["transcripts_steps_words"].read().collect()]
    assert words == ["a2"]


#: NESTED_STRUCT with a NULLABLE cursor — snapshot/full-refresh records
#: without CDC metadata (merge_batch explicitly accepts them)
NULLABLE_NESTED = T.StructType(
    [
        f if f.name != "_ab_cdc_lsn"
        else T.StructField("_ab_cdc_lsn", T.LongType(), True)
        for f in NESTED_STRUCT.fields
    ]
)


def test_null_cursor_parent_lands_in_children(spark, tmp_path):
    """A parent event with a NULL cursor (snapshot record) must still
    cascade into the child tables — `NULL > wm` is NULL and a naive filter
    silently drops the parent while the main table accepts it. Null-cursor
    parents apply when nothing newer is stored and lose to any real-LSN
    parent."""
    tables, specs = bootstrap_child_tables(
        spark, str(tmp_path / "nc"), NULLABLE_NESTED, PK,
        stream_name="transcripts",
    )

    def apply(rows, bid):
        df = spark.createDataFrame(rows, NULLABLE_NESTED)
        return merge_children_batch(
            tables, specs, df, PK, ORDER_COLS, stream_name="transcripts",
            app_id="t", batch_id=bid,
        )

    t_tags = tables["transcripts_tags"]

    # snapshot record without CDC metadata: children must land
    apply([_direct_row("c1", 0, None, ["s1", "s2"], None)], 0)
    assert sorted(r.element for r in t_tags.read().collect()) == ["s1", "s2"]

    # a real CDC update replaces the child set
    apply([_direct_row("c1", 0, 30, ["r1"], None)], 1)
    assert [r.element for r in t_tags.read().collect()] == ["r1"]

    # a late null-cursor re-delivery must NOT clobber CDC state
    apply([_direct_row("c1", 0, None, ["s1", "s2"], None)], 2)
    assert [r.element for r in t_tags.read().collect()] == ["r1"]


def test_reset_scopes_to_one_streams_children(spark, tmp_path, tmp_path_factory):
    """Two streams sharing ONE child_tables_path base dir: resetting stream
    alpha must wipe only alpha's child tables. A blanket listdir reset
    would drop beta's data while beta's fences (different app_id) survive,
    leaving beta permanently empty behind fenced no-op batches."""
    from airbyte_spark.streaming.sync import reset_stream

    shared = str(tmp_path / "children")
    cfgs = {}
    for name, seed in (("alpha", 71), ("beta", 72)):
        src = tmp_path_factory.mktemp(f"resetsrc_{name}")
        spec = FeedSpec(n_convs=6, turns_per_conv=2, n_updates=20, n_deletes=2,
                        dup_rate=0.0, late_rate=0.0, n_segments=2, seed=seed)
        generate_feed(str(src), spec)
        feed = str(tmp_path / f"nested_feed_{name}")
        _mk_nested_feed(spark, str(src), feed, n_segments=2)
        cfgs[name] = ReplayConfig(
            feed_dir=feed,
            table_path=str(tmp_path / f"tbl_{name}"),
            checkpoint_dir=str(tmp_path / f"ck_{name}"),
            child_tables_path=shared,
            feed_struct=NESTED_STRUCT,
            stream_name=name,
            app_id=f"app-{name}",
            canonicalize=False,
        )
        run_replay_stream(spark, cfgs[name])

    beta_tags = LakeTable(spark, child_table_path(shared, "beta_tags"))
    beta_rows_before = beta_tags.read().count()
    assert beta_rows_before > 0

    versions = reset_stream(spark, cfgs["alpha"])
    # only alpha's surfaces were reset — no beta path in the result
    assert all("beta" not in p for p in versions)
    alpha_tags = LakeTable(spark, child_table_path(shared, "alpha_tags"))
    assert alpha_tags.read().count() == 0

    # beta's child data AND fence survive untouched
    beta_snap = LakeTable(spark, child_table_path(shared, "beta_tags")).snapshot()
    assert LakeTable(spark, child_table_path(shared, "beta_tags")).read().count() \
        == beta_rows_before
    assert "app-beta" in beta_snap.fences

    # alpha's re-run reproduces its children from scratch (the
    # _expected_children oracle names streams "transcripts"; re-walk as alpha)
    run_replay_stream(spark, cfgs["alpha"])
    raw = spark.read.schema(NESTED_STRUCT).parquet(
        f"{cfgs['alpha'].feed_dir}/*.parquet"
    )
    winners = latest_per_key(raw, PK, ORDER_COLS)
    live = winners.filter(F.col("_ab_cdc_deleted_at").isNull())
    exp, specs = unnest_children_with_specs(live, PK, "alpha", carry_cols=[CURSOR])
    for s in specs:
        table = LakeTable(spark, child_table_path(shared, s["name"]))
        _assert_df_equal(table.read(), exp[s["name"]])
