"""StreamingQueryListener metrics (O2) — live telemetry vs committed lineage."""

import time

from airbyte_spark.feedgen import FeedSpec, generate_feed
from airbyte_spark.lake import LakeTable
from airbyte_spark.streaming import ReplayConfig, run_replay_stream
from airbyte_spark.streaming.metrics import attach, detach


def test_listener_counts_match_feed(spark, tmp_path, tmp_path_factory):
    feed = tmp_path_factory.mktemp("mfeed")
    ev = generate_feed(str(feed), FeedSpec(n_convs=10, turns_per_conv=3,
                                           n_updates=40, n_deletes=5,
                                           n_segments=3, seed=9))
    lst = attach(spark, jsonl_path=str(tmp_path / "metrics.jsonl"))
    try:
        cfg = ReplayConfig(
            feed_dir=str(feed),
            table_path=str(tmp_path / "t"),
            checkpoint_dir=str(tmp_path / "ck"),
            app_id="metrics-test",
            max_files_per_trigger=1,
        )
        run_replay_stream(spark, cfg)
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        while time.time() < deadline:
            t = lst.totals(name="metrics-test")
            if t["rows"] >= len(ev):
                break
            time.sleep(0.5)
        assert t["rows"] == len(ev)
        assert t["batches"] >= 3  # one per segment (maxFilesPerTrigger=1)
        # committed truth agrees with live telemetry
        lin = LakeTable(spark, cfg.table_path).lineage_df().toPandas()
        assert lin["rows_in"].sum() <= t["rows"]  # collapse <= raw input
        assert (tmp_path / "metrics.jsonl").exists()
        # O8: df.observe() metrics ran inside the stream's own jobs and
        # agree with both the feed and the committed lineage
        obs = lst.observed_totals("replay_feed", name="metrics-test")
        assert obs["rows_obs"] == len(ev)
        assert obs["text_bytes_obs"] > 0
        assert obs["max_lsn_obs"] == int(ev["_ab_cdc_lsn"].max())
        assert obs["max_lsn_obs"] == int(lin["max_lsn"].max())
    finally:
        detach(spark, lst)


def test_listener_reused_across_two_queries_waits_for_the_second(
    spark, tmp_path
):
    """One listener, two consecutive queries: once the second query has
    started, ``wait_terminated`` must block until THAT query ends, not
    return on the first query's latch."""
    feed = tmp_path / "feed"
    spark.range(10).write.parquet(str(feed))
    schema = spark.read.parquet(str(feed)).schema
    lst = attach(spark)
    try:
        def start(name, **trigger):
            return (
                spark.readStream.schema(schema).parquet(str(feed))
                .writeStream.format("noop").queryName(name)
                .option("checkpointLocation", str(tmp_path / name))
                .trigger(**trigger).start()
            )

        q1 = start("first", availableNow=True)
        assert q1.awaitTermination(120)
        assert lst.wait_terminated(30)
        q2 = start("second", processingTime="1 second")
        deadline = time.time() + 120
        while lst.totals(name="second")["rows"] < 10:
            assert time.time() < deadline, "second query made no progress"
            time.sleep(0.2)
        assert not lst.wait_terminated(0.5)  # q2 still runs
        q2.stop()
        assert lst.wait_terminated(30)
        assert not q2.isActive
    finally:
        detach(spark, lst)
