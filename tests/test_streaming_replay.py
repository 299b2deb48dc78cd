import os
import shutil

import pandas as pd
import pytest

from airbyte_spark.feedgen import FeedSpec, generate_feed, oracle_final_state
from airbyte_spark.functions.text import canonicalize_pandas
from airbyte_spark.lake import LakeTable
from airbyte_spark.streaming import ReplayConfig, run_replay_stream
from tests.util import assert_same


SPEC = FeedSpec(
    n_convs=25, turns_per_conv=4, n_updates=150, n_deletes=20,
    dup_rate=0.1, late_rate=0.1, n_segments=6, seed=21,
)


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sfeed")
    ev = generate_feed(str(d), SPEC)
    return str(d), ev


def _oracle(ev):
    return oracle_final_state(ev, canonicalize=canonicalize_pandas)


def test_stream_replay_matches_oracle(spark, tmp_path, feed_dir):
    d, ev = feed_dir
    cfg = ReplayConfig(
        feed_dir=d,
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    run_replay_stream(spark, cfg)
    table = LakeTable(spark, cfg.table_path)
    assert_same(table.read(), _oracle(ev))
    # multiple micro-batches actually happened + lineage recorded each
    lin = table.lineage_df().toPandas()
    assert len(lin) >= 3
    assert lin["batch_id"].is_unique


def test_stream_incremental_arrival_and_resume(spark, tmp_path, feed_dir):
    d, ev = feed_dir
    staged = tmp_path / "staged_feed"
    staged.mkdir()
    segs = sorted(os.listdir(d))
    # stage 1: first half of the WAL exists
    for s in segs[:3]:
        shutil.copy(os.path.join(d, s), staged / s)
    cfg = ReplayConfig(
        feed_dir=str(staged),
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    run_replay_stream(spark, cfg)
    t = LakeTable(spark, cfg.table_path)
    n_after_half = t.read().count()
    assert n_after_half > 0

    # stage 2: the rest of the WAL arrives; resume from the same checkpoint
    for s in segs[3:]:
        shutil.copy(os.path.join(d, s), staged / s)
    run_replay_stream(spark, cfg)
    assert_same(t.read(), _oracle(ev))


def test_crash_between_sink_commit_and_checkpoint(spark, tmp_path, feed_dir):
    """Kill the query AFTER the lake commit but BEFORE the streaming
    checkpoint commits (the at-least-once window). On restart Spark
    re-delivers the batch; the fence must no-op it and the final state must
    equal the single-shot oracle."""
    d, ev = feed_dir
    crash_flag = tmp_path / "crashed"

    def fault(batch_id: int) -> None:
        if batch_id == 1 and not crash_flag.exists():
            crash_flag.write_text("x")
            raise RuntimeError("injected crash after sink commit")

    cfg = ReplayConfig(
        feed_dir=d,
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        fault=fault,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        run_replay_stream(spark, cfg)
    assert crash_flag.exists()

    table = LakeTable(spark, cfg.table_path)
    committed_before_restart = {
        r["batch_id"] for r in table.lineage_df().select("batch_id").collect()
    }
    assert 1 in committed_before_restart  # sink committed batch 1 pre-crash

    run_replay_stream(spark, cfg)  # restart: batch 1 re-delivered, fenced
    lin = table.lineage_df().toPandas()
    assert lin["batch_id"].is_unique  # no double-apply
    assert_same(table.read(), _oracle(ev))


def _copy_segments(src_dir, dst_dir, names):
    """Land WAL segments in a tailed directory with strictly increasing
    modification times, so the file source takes them in order."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in names:
        shutil.copy(os.path.join(src_dir, name), os.path.join(dst_dir, name))
    _order_mtimes(dst_dir)


def _order_mtimes(feed):
    for i, name in enumerate(sorted(os.listdir(feed))):
        t = 1_000_000_000 + i
        os.utime(os.path.join(feed, name), (t, t))


def test_feed_without_emitted_at_replays_to_oracle(spark, tmp_path, feed_dir):
    """No column of the feed is required beyond pk, LSN and the payload:
    a feed without '_airbyte_emitted_at' replays with the default config
    and orders events by the ordering columns it has."""
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    from airbyte_spark.schemas import CHANGE_STRUCT

    d, ev = feed_dir
    feed = tmp_path / "feed"
    feed.mkdir()
    for name in sorted(os.listdir(d)):
        tbl = pq.read_table(os.path.join(d, name))
        pq.write_table(tbl.drop(["_airbyte_emitted_at"]), str(feed / name))
    _order_mtimes(str(feed))
    struct = T.StructType(
        [f for f in CHANGE_STRUCT.fields if f.name != "_airbyte_emitted_at"]
    )
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        feed_struct=struct,
        max_files_per_trigger=3,
    )
    run_replay_stream(spark, cfg)
    assert_same(LakeTable(spark, cfg.table_path).read(), _oracle(ev))


@pytest.mark.filterwarnings("ignore:The behavior of DataFrame concatenation")
def test_late_event_with_newest_lsn_is_applied(spark, tmp_path, feed_dir):
    """An update carrying its key's highest LSN but an '_airbyte_emitted_at'
    3 h older than the newest event of an earlier segment — later than an
    event-time watermark of 2 h — still lands: the table ends exactly as
    the oracle says. A watermarked dedup in front of the sink dropped it
    (Spark drops events behind the watermark of two batches back, so the
    late segment comes several batches after the first one)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d, ev = feed_dir
    feed = str(tmp_path / "feed")
    segs = sorted(os.listdir(d))
    _copy_segments(d, feed, segs)
    key = ev.iloc[0]
    late = ev[(ev.conv_id == key.conv_id) & (ev.turn_idx == key.turn_idx)].tail(1).copy()
    late["text"] = "late but newest"
    late["_ab_cdc_lsn"] = int(ev["_ab_cdc_lsn"].max()) + 1
    late["_ab_cdc_deleted_at"] = pd.NaT
    seg0 = pd.read_parquet(os.path.join(d, segs[0]))
    late["_airbyte_emitted_at"] = seg0["_airbyte_emitted_at"].max() - pd.Timedelta(hours=3)
    schema = pq.read_schema(os.path.join(d, segs[0]))
    pq.write_table(
        pa.Table.from_pandas(late[schema.names], schema=schema, preserve_index=False),
        os.path.join(feed, "segment-99999.parquet"),
    )
    _order_mtimes(feed)
    cfg = ReplayConfig(
        feed_dir=feed,
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        max_files_per_trigger=3,  # 2 batches of the feed, then the late one
    )
    run_replay_stream(spark, cfg)
    table = LakeTable(spark, cfg.table_path)
    want = _oracle(pd.concat([ev, late[ev.columns]], ignore_index=True))
    assert (want.text == "late but newest").sum() == 1
    assert_same(table.read(), want)
    assert table.lineage_df().count() == 3


def test_resume_checkpoint_written_with_watermark_dedup(spark, tmp_path, feed_dir):
    """Upgrade path: the first half of the feed is written by a query that
    still puts the removed watermark dedup in front of the same sink; the
    resume through ``run_replay_stream`` moves the dedup's state aside
    (renamed, not deleted), finishes the feed to the oracle, and applies
    every batch exactly once."""
    from airbyte_spark.streaming.runner import (
        REMOVED_DEDUP_STATE,
        _process_batch,
        bootstrap_table,
    )
    from airbyte_spark.schemas import PK

    d, ev = feed_dir
    staged = str(tmp_path / "staged_feed")
    segs = sorted(os.listdir(d))
    _copy_segments(d, staged, segs[:3])
    cfg = ReplayConfig(
        feed_dir=staged,
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    table = bootstrap_table(spark, cfg.table_path)
    old = (
        spark.readStream.schema(cfg.feed_struct)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{staged}/*.parquet")
        .withWatermark("_airbyte_emitted_at", "2 hours")
        .dropDuplicatesWithinWatermark([*PK, "_ab_cdc_lsn"])
        .writeStream.foreachBatch(_process_batch(table, cfg))
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    assert old.awaitTermination(300)
    state = tmp_path / "ckpt" / "state"
    assert state.is_dir()

    _copy_segments(d, staged, segs[3:])
    run_replay_stream(spark, cfg)
    assert not state.exists()
    assert (tmp_path / "ckpt" / REMOVED_DEDUP_STATE).is_dir()
    assert_same(table.read(), _oracle(ev))
    lin = table.lineage_df().toPandas()
    assert lin["batch_id"].is_unique


def test_stream_enrich_hook_applies_to_both_tables(spark, tmp_path, feed_dir):
    """ReplayConfig.enrich runs after collapse+canonicalize on every
    micro-batch (|keys| rows) and BOTH tables see it: the final state
    equals the oracle with the enrichment applied, and the SCD history's
    version rows carry enriched text too — ingest-time curation (PII
    redaction / tagging) with exactly-once semantics."""
    from pyspark.sql import functions as F

    d, ev = feed_dir
    cfg = ReplayConfig(
        feed_dir=d,
        table_path=str(tmp_path / "table_enrich"),
        checkpoint_dir=str(tmp_path / "ckpt_enrich"),
        scd_table_path=str(tmp_path / "scd_enrich"),
        strategy="mor",
        max_files_per_trigger=2,
        enrich=lambda df: df.withColumn("text", F.upper("text")),
    )
    run_replay_stream(spark, cfg)
    expected = _oracle(ev)
    expected["text"] = expected["text"].str.upper()
    table = LakeTable(spark, cfg.table_path)
    assert_same(table.read(), expected)

    from airbyte_spark.lake.scd import read_scd

    hist = read_scd(LakeTable(spark, cfg.scd_table_path))
    texts = [r["text"] for r in hist.select("text").dropna().collect()]
    assert texts and all(t == t.upper() for t in texts)


def test_job_cli_redact_pii(spark, tmp_path, tmp_path_factory):
    """--redact-pii lands rows already redacted (emails/phones replaced in
    the text column on the way in) — the compliance-pipeline shape via the
    spark-submit CLI."""
    import glob

    from airbyte_spark import job

    src = tmp_path_factory.mktemp("pii_feed_src")
    ev = generate_feed(str(src), FeedSpec(
        n_convs=8, turns_per_conv=2, n_updates=20, n_deletes=0,
        dup_rate=0.0, late_rate=0.0, n_segments=2, seed=808))
    # inject an email into every event text, preserving the WAL layout
    feed = tmp_path / "pii_feed"
    feed.mkdir()
    for f in glob.glob(os.path.join(str(src), "*.parquet")):
        pdf = pd.read_parquet(f)
        pdf["text"] = pdf["text"] + " mail bob" + pdf["turn_idx"].astype(str) + "@corp.example.org now"
        pdf.to_parquet(os.path.join(str(feed), os.path.basename(f)))
    job.main([
        "--feed-dir", str(feed),
        "--table", str(tmp_path / "tbl_pii"),
        "--checkpoint", str(tmp_path / "ck_pii"),
        "--n-buckets", "4",
        "--redact-pii",
    ])
    texts = [
        r["text"]
        for r in LakeTable(spark, str(tmp_path / "tbl_pii")).read().collect()
    ]
    assert texts and all("<EMAIL>" in t for t in texts)
    assert all("@" not in t for t in texts)
