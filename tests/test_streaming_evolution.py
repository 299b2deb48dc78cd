"""E2E: schema evolution mid-stream (SURVEY §5.1c — the reference's
messages_schema_change.txt phase, over Structured Streaming).

Lifecycle: epoch-1 feed streams into the table → catalog diff adds
tool_version (metadata-only evolve, no file rewrite) → an epoch-2 WAL
segment (higher LSNs, new column) lands in the feed dir → the SAME
checkpoint resumes with the evolved feed schema → final state has new
values on updated keys, nulls elsewhere, old epoch-1 files still readable.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from airbyte_spark.catalog import diff_schemas
from airbyte_spark.feedgen import FeedSpec, generate_feed, oracle_final_state
from airbyte_spark.functions.text import canonicalize_pandas
from airbyte_spark.lake import LakeTable
from airbyte_spark.schemas import CHANGE_STRUCT, CHANGE_STRUCT_V2, PK
from airbyte_spark.streaming import ReplayConfig, run_replay_stream
from tests.util import assert_same

SPEC = FeedSpec(
    n_convs=20, turns_per_conv=4, n_updates=80, n_deletes=10,
    dup_rate=0.05, late_rate=0.05, n_segments=3, seed=33,
)


def test_stream_schema_evolution_resume(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    ev1 = generate_feed(str(feed), SPEC)
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    run_replay_stream(spark, cfg)
    table = LakeTable(spark, cfg.table_path)
    assert_same(table.read(), oracle_final_state(ev1, canonicalize=canonicalize_pandas))
    files_before = set(table.snapshot().files)

    # --- catalog diff: epoch 2 adds tool_version (metadata-only) ----------
    target = T.StructType(
        list(table.snapshot().schema.to_struct().fields)
        + [T.StructField("tool_version", T.StringType())]
    )
    transforms = diff_schemas(table.snapshot().schema, target, primary_key=list(PK))
    table.evolve(transforms)
    assert set(table.snapshot().files) == files_before  # no rewrite

    # --- epoch-2 WAL segment: update two keys with the new column ---------
    max_lsn = int(ev1["_ab_cdc_lsn"].max())
    base = pd.Timestamp("2025-02-01")
    seg2 = pd.DataFrame(
        [
            dict(conv_id="conv-0", turn_idx=0, role="user", text="epoch2 text",
                 tool="python", tool_version="v9", ts=base,
                 _ab_cdc_lsn=max_lsn + 1, _ab_cdc_updated_at=base,
                 _ab_cdc_deleted_at=pd.NaT, _airbyte_emitted_at=base),
            dict(conv_id="conv-1", turn_idx=2, role=None, text=None,
                 tool=None, tool_version=None, ts=base,
                 _ab_cdc_lsn=max_lsn + 2, _ab_cdc_updated_at=base,
                 _ab_cdc_deleted_at=base, _airbyte_emitted_at=base),
        ]
    )
    spark.createDataFrame(seg2, schema=CHANGE_STRUCT_V2).coalesce(1).write.mode(
        "append"
    ).parquet(str(feed / "epoch2"))
    # stage the epoch-2 file as one more WAL segment in the feed dir
    part = [f for f in os.listdir(feed / "epoch2") if f.endswith(".parquet")][0]
    os.rename(str(feed / "epoch2" / part), str(feed / "segment-99999.parquet"))

    # --- resume from the SAME checkpoint with the evolved feed schema -----
    cfg2 = ReplayConfig(
        feed_dir=str(feed),
        table_path=cfg.table_path,
        checkpoint_dir=cfg.checkpoint_dir,
        max_files_per_trigger=2,
        feed_struct=CHANGE_STRUCT_V2,
        epoch=2,
    )
    run_replay_stream(spark, cfg2)

    got = table.read().toPandas()
    assert "tool_version" in got.columns
    upd = got[(got.conv_id == "conv-0") & (got.turn_idx == 0)]
    assert len(upd) == 1 and upd.iloc[0]["text"] == "epoch2 text"
    assert upd.iloc[0]["tool_version"] == "v9"
    # deleted key gone
    assert got[(got.conv_id == "conv-1") & (got.turn_idx == 2)].empty
    # untouched keys: tool_version null-padded
    other = got[~((got.conv_id == "conv-0") & (got.turn_idx == 0))]
    assert other["tool_version"].isna().all()
    # oracle cross-check for the untouched remainder
    orc = oracle_final_state(ev1, canonicalize=canonicalize_pandas)
    orc = orc[~((orc.conv_id == "conv-0") & (orc.turn_idx == 0))]
    orc = orc[~((orc.conv_id == "conv-1") & (orc.turn_idx == 2))]
    assert_same(
        table.read().drop("tool_version").filter(
            "NOT (conv_id = 'conv-0' AND turn_idx = 0)"
        ),
        orc,
    )
    # lineage recorded the epoch switch
    lin = table.lineage_df().toPandas()
    assert (lin["epoch"] == 2).any()


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_scd_history_evolves_with_main(spark, tmp_path, strategy):
    """The <stream>_scd table takes the SAME catalog diff as the main table
    (metadata-only); after an epoch-2 resume the new version row carries
    the new column, epoch-1 history rows are null-padded, and the window
    state (end_at/active flags) moves correctly across the evolution —
    under BOTH strategies (mor re-derives the flags at read across
    schema eras: uid projection null-pads, then the window re-runs)."""
    feed = tmp_path / "feed"
    feed.mkdir()
    ev1 = generate_feed(str(feed), SPEC)
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        scd_table_path=str(tmp_path / "tbl_scd"),
        max_files_per_trigger=2,
        strategy=strategy,
    )
    run_replay_stream(spark, cfg)
    main = LakeTable(spark, cfg.table_path)
    scd = LakeTable(spark, cfg.scd_table_path)
    for t in (main, scd):
        cur = t.snapshot().schema
        target = T.StructType(
            list(cur.to_struct().fields) + [T.StructField("tool_version", T.StringType())]
        )
        t.evolve(diff_schemas(cur, target, primary_key=list(PK)))

    max_lsn = int(ev1["_ab_cdc_lsn"].max())
    base = pd.Timestamp("2025-02-01")
    seg2 = pd.DataFrame(
        [
            dict(conv_id="conv-0", turn_idx=0, role="user", text="epoch2 text",
                 tool="python", tool_version="v9", ts=base,
                 _ab_cdc_lsn=max_lsn + 1, _ab_cdc_updated_at=base,
                 _ab_cdc_deleted_at=pd.NaT, _airbyte_emitted_at=base),
            dict(conv_id="conv-1", turn_idx=2, role=None, text=None,
                 tool=None, tool_version=None, ts=base,
                 _ab_cdc_lsn=max_lsn + 2, _ab_cdc_updated_at=base,
                 _ab_cdc_deleted_at=base, _airbyte_emitted_at=base),
        ]
    )
    spark.createDataFrame(seg2, schema=CHANGE_STRUCT_V2).coalesce(1).write.mode(
        "append"
    ).parquet(str(feed / "epoch2"))
    part = [f for f in os.listdir(feed / "epoch2") if f.endswith(".parquet")][0]
    os.rename(str(feed / "epoch2" / part), str(feed / "segment-99999.parquet"))

    cfg2 = ReplayConfig(
        feed_dir=str(feed), table_path=cfg.table_path,
        checkpoint_dir=cfg.checkpoint_dir, scd_table_path=cfg.scd_table_path,
        max_files_per_trigger=2, feed_struct=CHANGE_STRUCT_V2, epoch=2,
        strategy=strategy,
    )
    run_replay_stream(spark, cfg2)

    from airbyte_spark.lake.scd import read_scd

    hist = read_scd(scd).toPandas()
    assert "tool_version" in hist.columns
    new_row = hist[(hist.conv_id == "conv-0") & (hist.turn_idx == 0)
                   & (hist._ab_cdc_lsn == max_lsn + 1)]
    assert len(new_row) == 1
    assert new_row.iloc[0]["tool_version"] == "v9"
    assert new_row.iloc[0]["_airbyte_active_row"] == 1
    # every pre-existing version of that key is now closed history
    old_rows = hist[(hist.conv_id == "conv-0") & (hist.turn_idx == 0)
                    & (hist._ab_cdc_lsn <= max_lsn)]
    assert (old_rows["_airbyte_active_row"] == 0).all()
    assert old_rows["_airbyte_end_at"].notna().all()
    # the delete landed as an inactive history row (audit trail preserved)
    del_rows = hist[(hist.conv_id == "conv-1") & (hist.turn_idx == 2)
                    & (hist._ab_cdc_lsn == max_lsn + 2)]
    assert len(del_rows) == 1 and del_rows.iloc[0]["_airbyte_active_row"] == 0
    # epoch-1 history rows are null-padded, not rewritten
    assert hist[hist._ab_cdc_lsn <= max_lsn]["tool_version"].isna().all()
    # SCD1 table and SCD2 active rows still agree
    main_rows = main.read().toPandas()
    active = hist[(hist._airbyte_active_row == 1) & hist._ab_cdc_deleted_at.isna()]
    assert len(main_rows) == len(active)
