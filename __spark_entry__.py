"""Driver contract: entry / queries / oracle_sql.

Every implemented operator family from SURVEY.md §2 has an entry here,
each with a DuckDB oracle that mirrors the Spark semantics *exactly* (same
md5-based hashing, same double-precision left-to-right folds, same
rounding, same tiebreaks) so row-count + schema + value-hash all match.

Naming convention: cdc_* = replication/ingest operators (SURVEY §2.1-2.5);
text_* and pipeline_* = the paper's text canonicalizer and core-Spark
passes over the documents table. Streaming/exactly-once/schema-evolution
operators that are not expressible as a (spark, sf_dir) -> DataFrame are
covered by tests/ instead (see tests/test_streaming_replay.py,
tests/test_lake_merge.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airbyte_spark.operators.cdc import project_debezium_events
from airbyte_spark.operators.dedup import latest_per_key, scd2, surrogate_hash_id
from airbyte_spark.operators.skew import salted_latest_per_key
from airbyte_spark.operators.temporal import asof_join
from airbyte_spark.operators.unnest import unnest_array, unnest_children
from airbyte_spark.sources.declarative import (
    list_sliced_read,
    record_filter,
    sliced_read,
    substream_sliced_read,
)
from airbyte_spark.functions.text import canonicalize
from airbyte_spark.functions.names import canonicalize_identifier_udf, resolve_collisions

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


DELETE_THRESHOLD = 5.0  # events with value < this act as CDC deletes


# ---------------------------------------------------------------------------
# CDC / replication operators (SURVEY §2.1-2.5) expressed over `events`
# (event_id = LSN, user_id[/event_type] = primary key, ts = cursor)
# ---------------------------------------------------------------------------


def q_cdc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/D1-D4 core: latest state per key via max_by hash-agg (map-side
    combine — shuffles |keys| rows, not |events|; see operators/dedup.py)."""
    e = _t(spark, sf_dir, "events")
    top = latest_per_key(
        e, ["user_id"], ["ts", "event_id"], payload_cols=["event_id", "event_type", "value"]
    )
    return top.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full replay semantics (D1-D8): latest change per (user_id, event_type)
    wins; if the winner is a delete (value < threshold) the key vanishes."""
    e = _t(spark, sf_dir, "events").withColumn(
        "_deleted", F.col("value") < F.lit(DELETE_THRESHOLD)
    )
    top = latest_per_key(
        e, ["user_id", "event_type"], ["event_id"], payload_cols=["event_id", "value", "_deleted"]
    )
    return top.filter(~F.col("_deleted")).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("event_type"),
        F.col("event_id").cast("long").alias("last_lsn"),
        F.col("value").alias("last_value"),
    )


def q_cdc_cursor_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 incremental cursor scan: WHERE cursor > saved state. The predicate
    reaches the parquet scan (PushedFilters) — verified in bench."""
    e = _t(spark, sf_dir, "events")
    # cast the literal to timestamp_ntz: the parquet column is NTZ, and an
    # LTZ literal would shift the boundary under a non-UTC driver session
    return e.filter(F.col("ts") > F.lit("2024-01-20 00:00:00").cast("timestamp_ntz")).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
    )


def q_cdc_cursor_tie_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: COUNT(*) at the saved cursor value (decides > vs >= on resume)."""
    e = _t(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("mx"))
    return (
        e.join(F.broadcast(mx), F.col("ts") == F.col("mx"))
        .agg(F.count("*").cast("long").alias("n_at_cursor"))
    )


def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 SCD Type-2 window: end-cursor via lag, active flag via row_number
    (stream_processor.py:876-891 semantics), keyed by user_id, LSN=event_id."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id")
    s = scd2(e, ["user_id"], "event_id")
    return s.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("_airbyte_unique_key"),
        F.col("_airbyte_end_at").cast("long").alias("end_event_id"),
        F.col("_airbyte_active_row").cast("long").alias("active_row"),
    )


def q_cdc_scd2_mor_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/D6 in STREAMING form, oracle-checked end-to-end: replay the events
    feed in three interleaved micro-batches through
    ``scd_merge_batch(strategy="mor")`` — append-only immutable version
    deltas, O(batch) per trigger (the incremental-SCD contract of
    stream_processor.py:892-942 without per-batch history rewrites) — then
    ``read_scd`` re-derives end_at/active_row from the next-version lag at
    scan time. The result must equal the one-shot batch window bit-for-bit,
    so it shares the ``cdc_scd2_history`` oracle SQL."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from airbyte_spark.lake.scd import (
        bootstrap_scd_table,
        read_scd,
        scd_merge_batch,
    )

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
    )
    # unique per invocation (concurrent harness runs can't corrupt each
    # other's table); the returned DataFrame is lazy, so the dir must
    # outlive this function — clean up at process exit instead.
    path = tempfile.mkdtemp(prefix="airbyte_spark_q_scd_mor_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    table = bootstrap_scd_table(
        spark,
        path,
        T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("event_id", T.LongType()),
            ]
        ),
        pk=["user_id"],
        cursor="event_id",
        n_buckets=8,
    )
    # interleaved LSN slices: every batch carries out-of-order versions of
    # keys the other batches also touch (late data across triggers)
    for i in range(3):
        scd_merge_batch(
            table,
            e.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
            pk=["user_id"],
            cursor="event_id",
            app_id="oracle-scd-mor",
            batch_id=i,
            strategy="mor",
        )
    hist = read_scd(table)  # deltas present: resolution exercised for real
    return hist.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("_airbyte_unique_key"),
        F.col("_airbyte_end_at").cast("long").alias("end_event_id"),
        F.col("_airbyte_active_row").cast("long").alias("active_row"),
    )


def q_cdc_scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal AS-OF join (merge shape): each event probes the SCD2
    history of its user at cursor ``event_id - 1`` — the state a consumer
    saw just before that change. ONE shuffle on user_id (union + running
    last() window), no per-key version fanout; the reference leaves this
    read to warehouse SQL over its Type-2 tables
    (stream_processor.py:815-848 column semantics)."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id")
    hist = scd2(e, ["user_id"], "event_id").select(
        F.col("user_id"), F.col("_airbyte_start_at").alias("vstart")
    )
    probes = e.select(
        F.col("user_id"),
        F.col("event_id").alias("probe_id"),
        (F.col("event_id") - 1).alias("probe_c"),
    )
    out = asof_join(probes, hist, ["user_id"], "probe_c", "vstart")
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("probe_id").cast("long").alias("probe_id"),
        F.col("vstart").cast("long").alias("version_event_id"),
    )


def q_cdc_lake_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cursor read over the stored lake table with FILE-LEVEL
    data skipping (Delta stats-skipping analog). The reference's
    incremental read returns records with cursor > state
    (airbyte-cdk abstract_source.py:238-270 stream-slice read +
    IncrementalMixin state); here the table itself is the source: three
    lsn-ordered append commits land per-file ``max_lsn`` footer stats in
    the commit log, and ``read_incremental(watermark)`` at the 2/3 cut
    prunes the first two commits' files BEFORE the scan is built — at
    10^10 rows a resuming consumer opens only the newest commits' files,
    never the table."""
    import atexit
    import shutil
    import tempfile

    from airbyte_spark.catalog import TableSchema
    from airbyte_spark.lake import LakeTable

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    m = int(e.agg(F.max("event_id")).first()[0])
    path = tempfile.mkdtemp(prefix="airbyte_spark_q_inc_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    table = LakeTable.create(
        spark, path, TableSchema.from_struct(e.schema),
        primary_key=[], bucket_cols=["user_id"], n_buckets=8,
    )
    cuts = [-1, m // 3, (2 * m) // 3, m]
    for lo, hi in zip(cuts, cuts[1:]):
        table.append(
            e.filter((F.col("event_id") > lo) & (F.col("event_id") <= hi)),
            lsn_col="event_id",
        )
    since = (2 * m) // 3
    inc = table.read_incremental(since)
    return inc.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.col("__lsn").cast("long").alias("lsn"),
    )


#: key set probed by cdc_point_lookup — shared with its oracle SQL
_LOOKUP_KEYS = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 1_000_000_000]


def q_cdc_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned exact-key read over the stored lake (lake/table.py
    point_lookup, Iceberg puffin / Delta bloom-index analog): four
    interleaved MOR merges pile one delta file per bucket per commit, and
    the per-bucket-per-commit pk blooms prune the lookup to the files
    actually containing each key — O(files containing the key), not
    O(files in its bucket). Replay semantics are the reference's: latest
    change per user_id wins, a delete-winner (value < threshold)
    vanishes, so the oracle checks the resolved values while the
    no-false-negatives pruning invariant is plan-asserted in
    tests/test_bloom_lookup.py."""
    import atexit
    import shutil
    import tempfile

    from airbyte_spark.catalog import TableSchema
    from airbyte_spark.lake import LakeTable, merge_batch

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.col("event_id").cast("long").alias("event_id"),
        F.when(
            F.col("value") < F.lit(DELETE_THRESHOLD),
            F.lit("2024-01-01").cast("timestamp"),
        ).alias("_del"),
    )
    path = tempfile.mkdtemp(prefix="airbyte_spark_q_plookup_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    table = LakeTable.create(
        spark,
        path,
        TableSchema.from_struct(
            e.drop("event_id", "_del").schema
        ),
        primary_key=["user_id"],
        n_buckets=8,
        bloom_bits=4096,
    )
    # interleaved LSN slices: late data across batches, so the merge's
    # lsn-wins rule (not arrival order) decides every key
    for i in range(4):
        merge_batch(
            table,
            e.filter(F.pmod(F.col("event_id"), F.lit(4)) == i),
            ["event_id"],
            cursor="event_id",
            deleted_col="_del",
            app_id="oracle-plookup",
            batch_id=i,
            strategy="mor",
        )
    got = table.point_lookup(_LOOKUP_KEYS, include_meta=True)
    return got.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.col("__lsn").cast("long").alias("last_lsn"),
        F.col("value").alias("last_value"),
    )


def q_cdc_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/C5 as a CHUNKED RESUMABLE snapshot interleaved with the WAL tail
    (sources/snapshot.py — the DBLog/Debezium-incremental-snapshot upgrade
    of the reference's blocking snapshot-then-WAL composition,
    PostgresSource.java:377-381). The source table's state at LSN L0 =
    floor(max(event_id)/2) is applied in pk-range chunks, every chunk row
    stamped with the low watermark L0, ADVERSARIALLY interleaved with three
    post-L0 WAL micro-batches through the same fenced LSN-resolving merge.
    Convergence claim under test: any interleaving lands on the exact
    union-winner state — snapshot-only keys carry last_lsn = L0 (Debezium
    snapshot-record stamp), tailed keys carry their newest event_id, keys
    whose newest change is a delete vanish."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from airbyte_spark.catalog import TableSchema
    from airbyte_spark.lake import LakeTable
    from airbyte_spark.lake.merge import merge_batch
    from airbyte_spark.operators.dedup import latest_per_key
    from airbyte_spark.sources.snapshot import plan_snapshot, run_snapshot

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("value").cast("double").alias("value"),
    )
    l0 = int(e.agg(F.floor(F.max("event_id") / 2)).first()[0])

    # the "source table" a snapshot would read: consistent state at L0
    low = e.filter(F.col("event_id") <= l0)
    state = latest_per_key(
        low, ["user_id", "event_type"], ["event_id"], payload_cols=["value"]
    ).filter(~(F.col("value") < DELETE_THRESHOLD))

    # the WAL tail past L0, as fenced change events (delete = tombstone)
    wal = e.filter(F.col("event_id") > l0).select(
        "user_id",
        "event_type",
        "value",
        F.col("event_id").alias("_ab_cdc_lsn"),
        F.when(
            F.col("value") < DELETE_THRESHOLD,
            F.lit("2025-01-01 00:00:00").cast("timestamp"),
        ).alias("_ab_cdc_deleted_at"),
    )

    path = tempfile.mkdtemp(prefix="airbyte_spark_q_snap_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    table = LakeTable.create(
        spark,
        path,
        TableSchema.from_struct(
            T.StructType(
                [
                    T.StructField("user_id", T.LongType()),
                    T.StructField("event_type", T.StringType()),
                    T.StructField("value", T.DoubleType()),
                ]
            )
        ),
        primary_key=["user_id", "event_type"],
        bucket_cols=["user_id"],
        n_buckets=8,
    )
    plan = plan_snapshot(
        state,
        "user_id",
        low_watermark=l0,
        rows_per_chunk=max(1, state.count() // 5),
        app_id="oracle-snapshot",
    )

    def _wal_slice(i: int) -> DataFrame:
        return wal.filter(F.pmod(F.col("_ab_cdc_lsn"), F.lit(3)) == i)

    def _merge_wal(i: int) -> None:
        merge_batch(
            table,
            _wal_slice(i),
            ["_ab_cdc_lsn"],
            app_id="oracle-snapshot-wal",
            batch_id=i,
        )

    # adversarial interleave: tail first (updates/deletes of keys whose
    # chunk has not landed yet), then chunks, tail, remaining chunks, tail
    _merge_wal(0)
    run_snapshot(table, plan, state, order_cols=["_ab_cdc_lsn"], max_chunks=2)
    _merge_wal(1)
    run_snapshot(table, plan, state, order_cols=["_ab_cdc_lsn"])
    _merge_wal(2)

    return table.read(include_meta=True).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.col("__lsn").cast("long").alias("last_lsn"),
        F.col("value").alias("last_value"),
    )


def q_cdc_time_window_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed read over the stored lake table with per-file
    range skipping on RECORDED column stats (generalizes the ``__lsn``
    skipping of ``cdc_lake_incremental_scan`` to arbitrary stats_cols).
    The table is built from lsn-ordered appends of a time-correlated feed
    (ts/event_id correlation ≈ 1 — the WAL shape), so each data file's
    footer (min_ts, max_ts) spans a narrow slice and a 10-day window read
    proves most files disjoint BEFORE the scan is planned — at 10^10
    events a dashboard's "last day" query opens only the matching files.
    The residual BETWEEN filter keeps the result exact regardless."""
    import atexit
    import datetime as dt
    import shutil
    import tempfile

    from airbyte_spark.catalog import TableSchema
    from airbyte_spark.lake import LakeTable

    e = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts"),
        F.col("event_type"),
    )
    m = int(e.agg(F.max("event_id")).first()[0])
    path = tempfile.mkdtemp(prefix="airbyte_spark_q_tw_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    table = LakeTable.create(
        spark, path, TableSchema.from_struct(e.schema),
        primary_key=[], bucket_cols=["user_id"], n_buckets=8,
        stats_cols=["ts"],
    )
    cuts = [-1, m // 4, m // 2, (3 * m) // 4, m]
    for lo_c, hi_c in zip(cuts, cuts[1:]):
        table.append(
            e.filter((F.col("event_id") > lo_c) & (F.col("event_id") <= hi_c)),
            lsn_col="event_id",
        )
    lo = dt.datetime(2024, 1, 10)
    hi = dt.datetime(2024, 1, 20)
    win = table.read(ranges={"ts": (lo, hi)}, resolve=False)
    return win.select("event_id", "user_id", "ts", "event_type")


def q_cdc_changelog_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read (Iceberg CDF / Delta table_changes analog),
    oracle-checked end-to-end: the events feed is merged into a lake table
    in three MOR micro-batches (event_id % 3 slices, latest-per-user
    collapse per batch, ``value < DELETE_THRESHOLD`` rows as tombstones),
    then ``changes_between(0)`` tails the full commit range. MOR commits'
    delta files ARE the per-commit change sets, coalesced into ONE scan
    with a broadcast per-file version manifest — O(schema eras), not
    O(commits). Expected rows: per (user, batch-residue) the max-event_id
    winner, `_change_version` = that batch's commit (residue + 1), typed
    upsert/delete — exactly expressible in SQL over the raw feed."""
    import atexit
    import shutil
    import tempfile

    from airbyte_spark.catalog import TableSchema
    from airbyte_spark.lake import LakeTable, merge_batch

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_type"),
        F.when(
            F.col("value") < DELETE_THRESHOLD,
            F.lit("1970-01-01 00:00:00").cast("timestamp"),
        ).alias("deleted_at"),
    )
    path = tempfile.mkdtemp(prefix="airbyte_spark_q_cdf_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    table = LakeTable.create(
        spark, path,
        TableSchema.from_struct(e.drop("deleted_at").schema),
        primary_key=["user_id"], bucket_cols=["user_id"], n_buckets=8,
    )
    for i in range(3):
        merge_batch(
            table,
            e.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
            order_cols=["event_id"],
            cursor="event_id",
            deleted_col="deleted_at",
            app_id="oracle-cdf",
            batch_id=i,
            strategy="mor",
        )
    ch = table.changes_between(0)
    return ch.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_type"),
        F.col("__lsn").cast("long").alias("lsn"),
        F.col("_change_version").cast("long").alias("change_version"),
        F.col("_change_type").alias("change_type"),
    )


def q_cdc_schema_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style generated data-quality tests (the reference emits these
    per stream: dbt_schema_tests/schema_test.yml — unique_combination_of_
    columns, not_null, expression tests). All not-null + expression tests
    fold into ONE map-side aggregate; each uniqueness test is one groupBy."""
    from airbyte_spark.lake.quality import schema_tests

    e = _t(spark, sf_dir, "events")
    return schema_tests(
        e,
        not_null=["user_id", "event_id", "ts"],
        unique=[["event_id"], ["user_id", "event_id"]],
        expressions={"value_non_negative": "value >= 0"},
    )


def q_cdc_child_table_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 wired into the sync path, oracle-checked end-to-end
    (stream_processor.py:347-384 per-child-stream final tables): a nested
    CDC feed (events with a derived `items` array whose LENGTH varies with
    the LSN, deletes below the value threshold) replays in three
    interleaved micro-batches through ``merge_children_batch`` into a
    PERSISTED child LakeTable — pk = (parent hashid, pos), bucketed on the
    hashid, its own fence — exercising upsert, array-shrink tombstones,
    delete cascade, and the late-parent watermark fence. The final child
    table must equal unnesting the latest live parent rows."""
    import atexit
    import shutil
    import tempfile

    from airbyte_spark.lake.children import (
        bootstrap_child_tables,
        merge_children_batch,
    )

    feed = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.when(
            F.col("value") < F.lit(DELETE_THRESHOLD),
            F.to_timestamp(F.lit("2025-01-01")),
        ).alias("_del"),
        F.slice(
            F.array(
                F.concat(F.lit("e-"), F.col("event_type")),
                F.concat(
                    F.lit("u-"), F.pmod(F.col("user_id"), F.lit(5)).cast("string")
                ),
                F.lit("x"),
            ),
            1,
            F.pmod(F.col("event_id"), F.lit(3)).cast("int"),
        ).alias("items"),
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_q_children_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    tables, specs = bootstrap_child_tables(
        spark, base, feed.schema, ["user_id"], stream_name="events",
        cursor="event_id",
    )
    for i in range(3):
        merge_children_batch(
            tables, specs,
            feed.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
            ["user_id"], order_cols=["event_id"], stream_name="events",
            cursor="event_id", deleted_col="_del",
            app_id="oracle-children", batch_id=i,
        )
    hist = tables["events_items"].read()
    return hist.select(
        F.col("_events_hashid").alias("parent_hashid"),
        F.col("pos").cast("long").alias("pos"),
        F.col("element"),
        F.col("event_id").cast("long").alias("lsn"),
    )


def q_cdc_table_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-to-table incremental pipeline (``lake.pipeline.tail_into`` —
    Delta readChangeFeed->MERGE / medallion bronze->silver parity),
    oracle-checked end-to-end ACROSS A TRUNCATE BOUNDARY: the source table
    ingests two MOR micro-batches (event_id%3 slices 0,1; value <
    threshold rows as CDC deletes), is then fully OVERWRITTEN (full
    refresh — drops tombstones wholesale, the non-row-attributable
    commit), then ingests slice 2. ONE ``tail_into`` call with an
    uppercasing silver transform must bring a fresh downstream table to
    the same state: coalesced change-merge for the pre-boundary stretch,
    fenced snapshot re-sync AT the boundary, change-merge for the rest —
    all expressible in SQL as (latest-per-user over slices 0,1, alive
    only) full-outer-merged with (latest-per-user over slice 2) under
    strictly-newer-LSN wins + tombstone-drop semantics."""
    import atexit
    import shutil
    import tempfile

    from airbyte_spark.catalog import TableSchema
    from airbyte_spark.lake import LakeTable, merge_batch
    from airbyte_spark.lake.pipeline import tail_into

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_type"),
        F.col("value").cast("double").alias("value"),
        F.when(
            F.col("value") < F.lit(DELETE_THRESHOLD),
            F.lit("1970-01-01 00:00:00").cast("timestamp"),
        ).alias("deleted_at"),
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_q_tail_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    schema = TableSchema.from_struct(e.drop("deleted_at").schema)
    src = LakeTable.create(
        spark, f"{base}/src", schema,
        primary_key=["user_id"], bucket_cols=["user_id"], n_buckets=8,
    )
    dst = LakeTable.create(
        spark, f"{base}/dst", schema,
        primary_key=["user_id"], bucket_cols=["user_id"], n_buckets=8,
    )
    for i in (0, 1):
        merge_batch(
            src, e.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
            order_cols=["event_id"], cursor="event_id",
            deleted_col="deleted_at", app_id="oracle-tail-ing",
            batch_id=i, strategy="mor",
        )
    # full refresh = truncate boundary (preserve source LSNs)
    src.overwrite(src.read(include_meta=True), lsn_col="__lsn")
    merge_batch(
        src, e.filter(F.pmod(F.col("event_id"), F.lit(3)) == 2),
        order_cols=["event_id"], cursor="event_id",
        deleted_col="deleted_at", app_id="oracle-tail-ing",
        batch_id=2, strategy="mor",
    )
    tail_into(
        src, dst, app_id="oracle-tail-hop",
        transform=lambda df: df.withColumn(
            "event_type", F.upper(F.col("event_type"))
        ),
    )
    out = dst.read(include_meta=True)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("__lsn").cast("long").alias("lsn"),
        F.col("event_type"),
        F.col("value").cast("double").alias("value"),
    )


def q_cdc_materialized_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained MATERIALIZED AGGREGATE VIEW
    (``lake.pipeline.materialized_agg_into`` — the derived-table hop):
    per-user event counts / value totals / lsn high-watermark maintained
    from the change feed of a lake table ingesting the events feed in
    three MOR micro-batches (value < threshold rows as CDC deletes), the
    view advanced after EVERY batch. Each maintenance call recomputes
    only the groups the change sets name — bucket-pruned (groups lead the
    bucket columns) — and tombstones groups whose rows all vanished. The
    final view must equal the plain GROUP BY over the live rows, which is
    exactly the SQL oracle."""
    import atexit
    import shutil
    import tempfile

    from airbyte_spark.catalog import TableSchema
    from airbyte_spark.lake import LakeTable, merge_batch
    from airbyte_spark.lake.pipeline import bootstrap_agg_table, materialized_agg_into

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("value").cast("double").alias("value"),
        F.when(
            F.col("value") < F.lit(DELETE_THRESHOLD),
            F.lit("1970-01-01 00:00:00").cast("timestamp"),
        ).alias("deleted_at"),
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_q_mag_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    src = LakeTable.create(
        spark, f"{base}/src",
        TableSchema.from_struct(e.drop("deleted_at").schema),
        # an event's user never changes, so (user_id, event_id) keys the
        # same rows as event_id and keeps the bucket column in the key
        primary_key=["user_id", "event_id"], bucket_cols=["user_id"],
        n_buckets=8,
    )
    AGGS = {
        "n_events": F.count(F.lit(1)).cast("long"),
        "total_value": F.round(F.sum("value"), 6).cast("double"),
        "max_event": F.max("event_id").cast("long"),
    }
    dst = bootstrap_agg_table(spark, f"{base}/agg", src, ["user_id"], AGGS)
    for i in range(3):
        merge_batch(
            src, e.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
            order_cols=["event_id"], cursor="event_id",
            deleted_col="deleted_at", app_id="oracle-mag",
            batch_id=i, strategy="mor",
        )
        materialized_agg_into(src, dst, ["user_id"], AGGS, app_id="oracle-mag-view")
    out = dst.read()
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
        F.col("max_event").cast("long").alias("max_event"),
    )


def q_cdc_scd2_asof_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time state by BUSINESS cursor over a streaming-built MOR
    SCD2 history table (``read_scd_asof`` — the "what did the table say
    the world looked like at cursor C" read; Iceberg/Delta can only
    answer the commit-time question). The events feed lands in three
    interleaved MOR micro-batches (deletes below the value threshold kept
    as delete versions), then the table is asked for the state at the
    2/3-max cursor: each user's latest version with ``event_id <= C`` —
    excluded if that version is a delete — which is exactly one
    window + filter in SQL over the raw feed. The Spark side pays a
    bucket-pruned hybrid resolution + interval filter, never a join."""
    import atexit
    import shutil
    import tempfile

    from airbyte_spark.catalog import TableSchema
    from airbyte_spark.lake.scd import bootstrap_scd_table, read_scd_asof, scd_merge_batch

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_type"),
        F.col("value").cast("double").alias("value"),
        F.when(
            F.col("value") < F.lit(DELETE_THRESHOLD),
            F.lit("1970-01-01 00:00:00").cast("timestamp"),
        ).alias("_del"),
    )
    m = int(e.agg(F.max("event_id")).first()[0])
    at = (2 * m) // 3
    path = tempfile.mkdtemp(prefix="airbyte_spark_q_asof_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    table = bootstrap_scd_table(
        spark, path, e.schema, ["user_id"], cursor="event_id", n_buckets=8
    )
    for i in range(3):
        scd_merge_batch(
            table, e.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
            ["user_id"], cursor="event_id", app_id="oracle-asof",
            batch_id=i, strategy="mor",
        )
    state = read_scd_asof(table, at, deleted_col="_del")
    return state.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("lsn"),
        F.col("event_type"),
        F.col("value").cast("double").alias("value"),
    )


def q_cdc_singer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Singer tap adapter (S10) end-to-end: serialize the events table as a
    captured Singer tap run (RECORD envelopes via distributed ``to_json``,
    plus driver-written SCHEMA / STATE / ACTIVATE_VERSION / log-noise
    lines), read it back through the adapter
    (``sources/singer.py`` ≈ singer_helpers.py:239-262 classification) and
    return the TYPED live rows. Records carry ``version = 1 + event_id%2``
    and version 2 is activated, so the Singer full-table sweep must drop
    exactly the even-id rows — the oracle is that filter over the raw
    table. Agreement proves envelope classification, schema-directed
    typing (long/timestamp/double round-trip to the microsecond) and the
    ACTIVATE_VERSION semantics the reference delegates to its destinations.
    Every per-row step is a column expression (json_tuple / from_json);
    the driver writes only the 4 control lines."""
    import atexit
    import json as _json
    import os
    import shutil
    import tempfile

    from airbyte_spark.sources import singer as sg

    e = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.col("value"),
    )
    tap_dir = tempfile.mkdtemp(prefix="airbyte_spark_q_singer_")
    atexit.register(shutil.rmtree, tap_dir, ignore_errors=True)
    lines = sg.serialize_records(
        e, "events",
        version_col=F.lit(1) + F.pmod(F.col("event_id"), F.lit(2)),
    )
    lines.write.mode("overwrite").text(os.path.join(tap_dir, "records"))
    with open(os.path.join(tap_dir, "control.jsonl"), "w") as f:
        f.write(
            "\n".join(
                [
                    _json.dumps(
                        {
                            "type": "SCHEMA",
                            "stream": "events",
                            "schema": {"type": "object"},
                            "key_properties": ["event_id"],
                        }
                    ),
                    "INFO tap run captured (non-protocol line)",
                    _json.dumps(
                        {"type": "ACTIVATE_VERSION", "stream": "events", "version": 2}
                    ),
                    _json.dumps(
                        {"type": "STATE", "value": {"bookmarks": {"events": {}}}}
                    ),
                ]
            )
            + "\n"
        )
    env = sg.read_singer_output(spark, os.path.join(tap_dir, "*"))
    live = sg.active_records(env, "events", e.schema)
    return live.select("event_id", "ts", "user_id", "event_type", "value")


def q_cdc_normalization_codegen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization SQL codegen (O4) end-to-end: the events table is
    packed into the reference's raw shape (`_airbyte_ab_id`,
    `_airbyte_data` JSON, `_airbyte_emitted_at`), and the GENERATED
    spark-dialect model chain (ab1 extract → stg hash+type → scd window →
    final active rows; stream_processor.py:237-316) runs via ``spark.sql``.
    The oracle is the SAME generator rendered in the duckdb dialect over an
    identically-packed raw CTE — agreement proves the codegen emits
    semantically identical SQL across engines, the reference's
    dbt-adapter-portability contract. Timestamps are pre-formatted into
    the JSON (both engines' to_json render timestamps differently);
    deduplication keeps the max-event_id record per user."""
    from airbyte_spark.normalization import generate_normalization_sql

    e = _t(spark, sf_dir, "events")
    raw = e.select(
        F.md5(F.col("event_id").cast("string")).alias("_airbyte_ab_id"),
        F.to_json(
            F.struct(
                F.col("event_id").cast("long").alias("event_id"),
                F.col("user_id").cast("long").alias("user_id"),
                F.col("event_type"),
                F.col("value"),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            )
        ).alias("_airbyte_data"),
        F.col("ts").alias("_airbyte_emitted_at"),
    )
    view = "_airbyte_raw_events_codegen"
    raw.createOrReplaceTempView(view)
    stream = _codegen_stream()
    out = spark.sql(generate_normalization_sql(stream, view, "spark"))
    return out.select(
        "_airbyte_unique_key", "event_id", "user_id", "event_type",
        "value", "ts", "_airbyte_events_hashid",
    )


def _codegen_stream():
    """Stream config shared by q_cdc_normalization_codegen and its oracle."""
    from pyspark.sql import types as T

    from airbyte_spark.catalog import ConfiguredStream, TableSchema

    struct = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    return ConfiguredStream(
        name="events",
        schema=TableSchema.from_struct(struct),
        primary_key=["user_id"],
        cursor_field="event_id",
        sync_mode="incremental",
        destination_sync_mode="append_dedup",
    )


def q_cdc_intra_batch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: at-least-once feed re-delivers events; dropDuplicates on the LSN
    collapses them (here: the feed unioned with itself)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.unionAll(e)
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_cdc_surrogate_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 surrogate key: md5(concat_ws('-', coalesce(cast(col)))) — exact
    dbt_utils.surrogate_key semantics (stream_processor.py:667-696)."""
    li = _t(spark, sf_dir, "lineitem")
    h = surrogate_hash_id(li, ["l_orderkey", "l_linenumber", "l_returnflag"], "_hashid")
    return h.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.col("_hashid"),
    )


def q_cdc_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/S9: JSON-blob field extraction (Airbyte's ab1 model / dpath
    extractor) via get_json_object — JVM-side, no Python."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


def q_cdc_schema_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 star_intersect: reconcile two schema epochs with
    unionByName(allowMissingColumns=True) — missing columns null-padded."""
    e = _t(spark, sf_dir, "events")
    old = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").cast("long").alias("event_id"), "event_type"
    )
    new = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").cast("long").alias("event_id"), "value"
    )
    return old.unionByName(new, allowMissingColumns=True)


def q_cdc_event_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: Debezium envelope -> flat change record (DebeziumEventUtils
    semantics: before-image for deletes, cdc metadata injection). The
    envelope is synthesized from `events` (ts_ms = event_id; value <
    threshold marks a delete)."""
    e = _t(spark, sf_dir, "events")
    img = F.struct(F.col("event_id"), F.col("event_type"))
    env = e.select(
        F.when(F.col("value") < DELETE_THRESHOLD, F.lit("d")).otherwise(F.lit("u")).alias("op"),
        F.col("event_id").alias("ts_ms"),
        img.alias("before"),
        img.alias("after"),
        F.struct(F.col("event_id").alias("lsn")).alias("source"),
    )
    flat = project_debezium_events(env, ["event_id", "event_type"])
    return flat.select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        F.col("_ab_cdc_lsn"),
        F.col("_ab_cdc_deleted_at").isNotNull().cast("long").alias("is_deleted"),
    )


def q_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data curation pass in ONE DataFrame expression:
    canonicalize -> length filter -> exact-dedup keep-list. The whole chain
    fuses into scan -> project/filter (the canonicalizer is one Catalyst
    expression) -> hash aggregate; no Python, no intermediate
    materialization."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        canonicalize("text").alias("canon"),
    ).withColumn(
        "n_tokens", F.size(F.split(F.trim("canon"), r"\s+")).cast("long")
    )
    kept = base.filter(F.col("n_tokens") >= 20)
    return kept.groupBy(F.md5("canon").alias("text_md5")).agg(
        F.min("doc_id").cast("long").alias("keep_doc_id"),
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_tokens").cast("long").alias("n_tokens"),
    )


def q_cdc_nested_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: array unnest into a child table keyed by the parent's surrogate
    hash id + element position (stream_processor.py child-stream contract)."""
    d = _t(spark, sf_dir, "documents")
    child = unnest_array(
        d,
        F.split(F.trim("text"), r"\s+"),
        parent_pk=["doc_id"],
        element_alias="token",
        keep_cols=["doc_id"],
        hashid_col="parent_hashid",
    )
    return child.select(
        "parent_hashid", F.col("doc_id").cast("long").alias("doc_id"), "pos", "token"
    )


def q_cdc_recursive_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 completion — catalog-driven RECURSIVE unnest (find_children_streams,
    stream_processor.py:347-384): a 2-level nested column (sentences ->
    words) walks into the full child-table tree; this query returns the
    grandchild table, whose parent link chains the hashids
    (md5(md5(doc_id) || '-' || sentence_pos))."""
    d = _t(spark, sf_dir, "documents")
    nested = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.transform(
            F.split(F.trim("text"), r"\."), lambda s: F.split(s, " ")
        ).alias("sents"),
    )
    tables = unnest_children(nested, ["doc_id"], stream_name="doc")
    words = tables["doc_sents_element"]
    return words.select(
        F.col("_doc_sents_hashid").alias("sent_hashid"),
        F.col("pos").cast("long").alias("pos"),
        F.col("element").alias("token"),
    )


def q_cdc_list_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 list stream slicer: configured slice values as ONE pushable
    IN-predicate scan with a slice column (list_stream_slicer.py analog)."""
    e = _t(spark, sf_dir, "events")
    sliced = list_sliced_read(e, "event_type", ["click", "view"])
    return sliced.groupBy("slice_value").agg(
        F.count("*").cast("long").alias("n"),
        F.max("event_id").cast("long").alias("max_lsn"),
    )


def q_cdc_substream_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 substream slicer: child rows sliced by parent records
    (substream_slicer.py analog) — a broadcast semi-product keeping the
    child scan map-only; slices aggregate per parent key."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    li = _t(spark, sf_dir, "lineitem")
    sliced = substream_sliced_read(li, o, "o_orderkey", "l_orderkey")
    return sliced.groupBy(
        F.col("parent_slice").cast("long").alias("parent_slice")
    ).agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
    )


def q_cdc_record_filter_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: declarative record filter + datetime stream slicer as Catalyst
    expressions (predicate pushes into the scan; slices = partitions)."""
    e = _t(spark, sf_dir, "events")
    sliced = record_filter(sliced_read(e, "ts", granularity="day"), "value >= 10")
    return sliced.groupBy("slice_start").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def q_cdc_salted_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew path: two-phase salted collapse — result identical to the
    unsalted operator (winner selection is associative), but a hot key
    spreads over n_salt reducers in phase 1."""
    e = _t(spark, sf_dir, "events")
    top = salted_latest_per_key(
        e, ["user_id"], ["event_id"], n_salt=8, payload_cols=["event_id", "event_type"]
    )
    return top.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    )


def q_cdc_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session assembly over the change stream: a >30-minute gap in a
    user's events starts a new session (lag + running-sum windows sharing
    ONE shuffle on user_id; partition size = per-user activity, bounded)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    # NTZ subtraction yields a day-time interval: a pure wall-clock delta,
    # independent of the session timezone (an NTZ->LTZ epoch detour would
    # shift by the DST offset across a transition and diverge from
    # DuckDB's tz-free epoch() difference), compared SUB-SECOND EXACT
    # (flooring to whole seconds would mis-bucket a 1800.5s gap)
    gap = F.col("ts") - prev
    new_s = F.when(
        prev.isNull() | (gap > F.expr("INTERVAL '1800' SECOND")), 1
    ).otherwise(0)
    s = e.withColumn("_new", new_s).withColumn("session_idx", F.sum("_new").over(w))
    return s.groupBy(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_idx").cast("long").alias("session_idx"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("event_id").cast("long").alias("first_event"),
        F.max("event_id").cast("long").alias("last_event"),
    )


def q_text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-20: wordcount with map-side combine, then
    TakeOrderedAndProject (per-partition top-k + merge — never a global
    sort of the vocabulary); rank assigned over the 20 surviving rows."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").cast("long").alias("n"))
    order = [F.col("n").desc(), F.col("token").asc()]
    top = counts.orderBy(*order).limit(20)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long")
    )


def q_cdc_validation_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 per-record schema validation with error accounting
    (RecordSchemaValidator / DefaultReplicationWorker.java:549-577):
    PERMISSIVE from_json with corrupt-record capture; exact per-stream
    valid/invalid counts in one JVM-side pass. The fixture corrupts every
    97th event's JSON payload (truncated brace)."""
    from pyspark.sql import types as T
    from airbyte_spark.sources.validation import validate_json_records, validation_counts

    e = _t(spark, sf_dir, "events")
    feed = e.withColumn(
        "props_raw",
        F.when(
            F.col("event_id") % 97 == 0,
            F.expr("substr(props, 1, length(props) - 1)"),
        ).otherwise(F.col("props")),
    )
    v = validate_json_records(
        feed, "props_raw", T.StructType([T.StructField("k", T.LongType())])
    )
    return validation_counts(v, ["event_type"])


def q_cdc_name_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 identifier-name canonicalization + collision registry, bulk form
    (destination_name_transformer.py:99-310, stream_processor.py:317-345):
    accent strip -> _ folding -> middle truncation with __ marker -> case
    fold, then deterministic _n collision suffixing. Raw names are
    synthesized from event_type with unicode/case decorations so each
    canonical name collides exactly once."""
    e = _t(spark, sf_dir, "events")
    et = e.select("event_type").distinct()
    raws = et.select(
        F.concat(F.lit("Event "), F.col("event_type")).alias("raw_name")
    ).unionAll(
        et.select(
            F.concat(F.lit("Évent   "), F.upper(F.col("event_type"))).alias("raw_name")
        )
    )
    c = raws.withColumn(
        "canon", canonicalize_identifier_udf()(F.col("raw_name"))
    ).withColumn("canon_trunc", canonicalize_identifier_udf(12)(F.col("raw_name")))
    return resolve_collisions(c, "canon", "raw_name").select(
        "raw_name", "canon", "canon_trunc", "resolved"
    )


# ---------------------------------------------------------------------------
# Text canonicalization
# ---------------------------------------------------------------------------


def q_text_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: text canonicalization as one Catalyst expression (the engine's
    canonicalizer; byte-equal to the pandas oracle, no Python in the plan)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        canonicalize("text").alias("canon_text"),
    )


def q_cdc_conversation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation assembly (the north rule's stable-turn-ordering
    invariant as an oracle-checked query): events re-keyed as transcript
    turns (conv = user, turn = event id, text = floor(value) so the
    rendered string is engine-portable), assembled in ONE hash agg."""
    from airbyte_spark.operators.transcripts import assemble_conversations

    e = _t(spark, sf_dir, "events")
    turns = e.select(
        F.col("user_id").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.floor("value").cast("long").cast("string").alias("text"),
    )
    return assemble_conversations(turns)


def q_cdc_dialog_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialog-format validation over the same events→turns mapping as
    conversation assembly: per conversation, adjacent role repeats,
    timestamp regressions, empty turns — ONE hash aggregate (no window,
    no join), the structural quality gate for transcript training data."""
    from airbyte_spark.operators.transcripts import validate_dialog_format

    e = _t(spark, sf_dir, "events")
    turns = e.select(
        F.col("user_id").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.floor("value").cast("long").cast("string").alias("text"),
        F.col("ts"),
    )
    return validate_dialog_format(turns)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC replay final state over the sf0.001 change feed."""
    return q_cdc_replay_final_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_latest_per_key": q_cdc_latest_per_key,
        "cdc_replay_final_state": q_cdc_replay_final_state,
        "cdc_cursor_scan": q_cdc_cursor_scan,
        "cdc_scd2_history": q_cdc_scd2_history,
        "cdc_scd2_mor_replay": q_cdc_scd2_mor_replay,
        "cdc_schema_tests": q_cdc_schema_tests,
        "cdc_lake_incremental_scan": q_cdc_lake_incremental_scan,
        "cdc_point_lookup": q_cdc_point_lookup,
        "cdc_incremental_snapshot": q_cdc_incremental_snapshot,
        "cdc_changelog_feed": q_cdc_changelog_feed,
        "cdc_child_table_sync": q_cdc_child_table_sync,
        "cdc_table_tail": q_cdc_table_tail,
        "cdc_materialized_agg": q_cdc_materialized_agg,
        "cdc_singer_roundtrip": q_cdc_singer_roundtrip,
        "cdc_normalization_codegen": q_cdc_normalization_codegen,
        "cdc_intra_batch_dedup": q_cdc_intra_batch_dedup,
        "cdc_surrogate_hash": q_cdc_surrogate_hash,
        "cdc_json_extract": q_cdc_json_extract,
        "cdc_schema_union_by_name": q_cdc_schema_union_by_name,
        "pipeline_curation": q_pipeline_curation,
        "cdc_nested_unnest": q_cdc_nested_unnest,
        "cdc_record_filter_slice": q_cdc_record_filter_slice,
        "cdc_name_canonicalize": q_cdc_name_canonicalize,
        "cdc_validation_accounting": q_cdc_validation_accounting,
        "cdc_sessionize": q_cdc_sessionize,
        "cdc_conversation_assembly": q_cdc_conversation_assembly,
        "text_canonicalize": q_text_canonicalize,
        "cdc_dialog_format": q_cdc_dialog_format,
        "text_vocab_topk": q_text_vocab_topk,
        "cdc_scd2_asof_join": q_cdc_scd2_asof_join,
        "cdc_time_window_scan": q_cdc_time_window_scan,
        "cdc_cursor_tie_probe": q_cdc_cursor_tie_probe,
        "cdc_event_projection": q_cdc_event_projection,
        "cdc_scd2_asof_state": q_cdc_scd2_asof_state,
        "cdc_salted_latest_per_key": q_cdc_salted_latest_per_key,
        "cdc_recursive_unnest": q_cdc_recursive_unnest,
        "cdc_list_slice": q_cdc_list_slice,
        "cdc_substream_slice": q_cdc_substream_slice,
    }


# --- oracle SQL builders ----------------------------------------------------


def _canon_ident_sql(x: str, limit: int | None = None) -> str:
    """DuckDB twin of names.canonicalize_identifier (lowercase family):
    strip/accents/_-folding, then optional middle truncation (lowering
    commutes with substring, so the fold order difference is immaterial)."""
    e = (
        r"lower(regexp_replace(regexp_replace(strip_accents(trim(" + x + r")), "
        r"'\s+', '_', 'g'), '[^A-Za-z0-9_]', '_', 'g'))"
    )
    if limit is None:
        return e
    middle = round(limit / 2)
    pre, suf = limit - middle - 1, middle - 1
    return (
        f"CASE WHEN length({e}) > {limit} "
        f"THEN substr({e}, 1, {pre}) || '__' || substr({e}, length({e}) - {suf - 1}) "
        f"ELSE {e} END"
    )


def _name_canon_oracle() -> str:
    c = _canon_ident_sql("raw_name")
    ct = _canon_ident_sql("raw_name", 12)
    return f"""
        WITH et AS (SELECT DISTINCT event_type FROM events),
        raws AS (SELECT 'Event ' || event_type AS raw_name FROM et
                 UNION ALL
                 SELECT 'Évent   ' || upper(event_type) AS raw_name FROM et),
        c AS (SELECT raw_name, {c} AS canon, {ct} AS canon_trunc FROM raws),
        r AS (SELECT *, row_number() OVER (PARTITION BY lower(canon)
                      ORDER BY raw_name) rn FROM c)
        SELECT raw_name, canon, canon_trunc,
               CASE WHEN rn = 1 THEN canon
                    ELSE canon || '_' || CAST(rn - 1 AS VARCHAR) END AS resolved
        FROM r
    """


def _codegen_oracle_sql() -> str:
    """The duckdb-dialect render of the SAME generator the Spark query runs
    (normalization/codegen.py), over an identically-packed raw CTE — the
    oracle IS the codegen's portability contract."""
    from airbyte_spark.normalization import generate_normalization_sql

    gen = generate_normalization_sql(
        _codegen_stream(), "_airbyte_raw_events_codegen", "duckdb"
    )
    raw_cte = """_airbyte_raw_events_codegen AS (
    SELECT md5(CAST(event_id AS VARCHAR)) AS _airbyte_ab_id,
           to_json(struct_pack(
               event_id := CAST(event_id AS BIGINT),
               user_id := CAST(user_id AS BIGINT),
               event_type := event_type,
               value := value,
               ts := strftime(ts, '%Y-%m-%d %H:%M:%S.%f'))) AS _airbyte_data,
           ts AS _airbyte_emitted_at
    FROM events)"""
    full = gen.replace("WITH ", f"WITH {raw_cte},\n", 1)
    return (
        'SELECT _airbyte_unique_key, event_id, user_id, event_type, value, '
        'ts, _airbyte_events_hashid FROM (' + full + ") q"
    )


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_latest_per_key": """
            SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
                   value AS last_value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                          ORDER BY ts DESC, event_id DESC) rn FROM events)
            WHERE rn = 1
        """,
        "cdc_replay_final_state": f"""
            SELECT user_id, event_type, event_id AS last_lsn, value AS last_value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                          ORDER BY event_id DESC) rn FROM events)
            WHERE rn = 1 AND NOT (value < {DELETE_THRESHOLD})
        """,
        "cdc_cursor_scan": """
            SELECT event_id, user_id, event_type FROM events
            WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
        """,
        "cdc_cursor_tie_probe": """
            SELECT CAST(count(*) AS BIGINT) AS n_at_cursor FROM events
            WHERE ts = (SELECT max(ts) FROM events)
        """,
        "cdc_scd2_history": """
            SELECT user_id, event_id,
                   md5(CAST(user_id AS VARCHAR)) AS _airbyte_unique_key,
                   lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id DESC)
                       AS end_event_id,
                   CAST(CASE WHEN row_number() OVER (PARTITION BY user_id
                        ORDER BY event_id DESC) = 1 THEN 1 ELSE 0 END AS BIGINT)
                       AS active_row
            FROM events
        """,
        "cdc_scd2_mor_replay": """
            SELECT user_id, event_id,
                   md5(CAST(user_id AS VARCHAR)) AS _airbyte_unique_key,
                   lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id DESC)
                       AS end_event_id,
                   CAST(CASE WHEN row_number() OVER (PARTITION BY user_id
                        ORDER BY event_id DESC) = 1 THEN 1 ELSE 0 END AS BIGINT)
                       AS active_row
            FROM events
        """,
        # the as-of oracle takes the OPPOSITE physical shape (equi-join +
        # range filter over explicit [vstart, vend) bounds) — agreement
        # pins the merge-window implementation to interval semantics
        "cdc_scd2_asof_join": """
            WITH h AS (
                SELECT user_id, event_id AS vstart,
                       lag(event_id) OVER (PARTITION BY user_id
                                           ORDER BY event_id DESC) AS vend
                FROM events
            ), p AS (
                SELECT user_id, event_id AS probe_id, event_id - 1 AS probe_c
                FROM events
            )
            SELECT CAST(p.user_id AS BIGINT) AS user_id,
                   CAST(p.probe_id AS BIGINT) AS probe_id,
                   CAST(h.vstart AS BIGINT) AS version_event_id
            FROM p JOIN h ON p.user_id = h.user_id
                         AND h.vstart <= p.probe_c
                         AND (h.vend IS NULL OR h.vend > p.probe_c)
        """,
        # lake built from 3 lsn-ordered appends of events, read back with
        # cursor > (2*max)//3 — the stored rows ARE the source rows, so the
        # filter over the raw table is the exact oracle
        "cdc_lake_incremental_scan": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   CAST(user_id AS BIGINT) AS user_id,
                   event_type,
                   CAST(event_id AS BIGINT) AS lsn
            FROM events
            WHERE event_id > (2 * (SELECT MAX(event_id) FROM events)) // 3
        """,
        # the lookup keys' resolved latest state; a delete winner
        # (value < threshold) removes the key
        "cdc_point_lookup": f"""
            WITH ranked AS (
              SELECT user_id, event_id, event_type, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY event_id DESC) AS rn
              FROM events)
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   event_type,
                   CAST(event_id AS BIGINT) AS last_lsn,
                   value AS last_value
            FROM ranked
            WHERE rn = 1 AND value >= {DELETE_THRESHOLD}
              AND user_id IN ({', '.join(str(k) for k in _LOOKUP_KEYS)})
        """,
        # snapshot rows carry the low-watermark stamp L0; WAL rows carry
        # their own lsn; newest wins; a delete winner removes the key —
        # the union-winner formulation of the DBLog convergence claim
        "cdc_incremental_snapshot": f"""
            WITH l0 AS (SELECT CAST(FLOOR(MAX(event_id) / 2) AS BIGINT) AS v
                        FROM events),
            low AS (
                SELECT user_id, event_type, value, event_id,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY event_id DESC) rn
                FROM events WHERE event_id <= (SELECT v FROM l0)
            ),
            src AS (
                SELECT user_id, event_type, (SELECT v FROM l0) AS lsn, value
                FROM low WHERE rn = 1 AND NOT (value < {DELETE_THRESHOLD})
            ),
            wal AS (
                SELECT user_id, event_type, CAST(event_id AS BIGINT) AS lsn,
                       value
                FROM events WHERE event_id > (SELECT v FROM l0)
            ),
            u AS (SELECT * FROM src UNION ALL SELECT * FROM wal),
            w AS (
                SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                             ORDER BY lsn DESC) rn
                FROM u
            )
            SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
                   lsn AS last_lsn, value AS last_value
            FROM w WHERE rn = 1 AND NOT (value < {DELETE_THRESHOLD})
        """,
        # the stored rows ARE the source rows; the window filter over the
        # raw table is the exact oracle for the stats-pruned lake read
        "cdc_time_window_scan": """
            SELECT event_id, user_id, ts, event_type FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        """,
        # per (user, event_id%3 batch) the max-event_id winner is the MOR
        # delta row commit (residue+1) appended; value<threshold winners
        # are tombstones typed 'delete'
        "cdc_changelog_feed": f"""
            SELECT user_id,
                   event_id,
                   event_type,
                   event_id AS lsn,
                   r + 1 AS change_version,
                   CASE WHEN value < {DELETE_THRESHOLD}
                        THEN 'delete' ELSE 'upsert' END AS change_type
            FROM (
                SELECT user_id, event_id, event_type, value,
                       event_id % 3 AS r,
                       row_number() OVER (PARTITION BY user_id, event_id % 3
                                          ORDER BY event_id DESC) AS rn
                FROM events
            )
            WHERE rn = 1
        """,
        "cdc_schema_tests": """
            SELECT 'not_null_user_id' AS test_name,
                   CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS failing_rows FROM events
            UNION ALL
            SELECT 'not_null_event_id',
                   CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'not_null_ts',
                   CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'expression_value_non_negative',
                   CAST(SUM(CASE WHEN NOT COALESCE(value >= 0, FALSE)
                            THEN 1 ELSE 0 END) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'unique_event_id',
                   CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
            FROM (SELECT COUNT(*) AS n FROM events GROUP BY event_id)
            UNION ALL
            SELECT 'unique_user_id_event_id',
                   CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
            FROM (SELECT COUNT(*) AS n FROM events GROUP BY user_id, event_id)
        """,
        "cdc_child_table_sync": f"""
            WITH w AS (
                SELECT user_id, event_id, event_type, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY event_id DESC) AS rn
                FROM events),
            win AS (SELECT * FROM w
                    WHERE rn = 1 AND value >= {DELETE_THRESHOLD}),
            arr AS (SELECT md5(CAST(user_id AS VARCHAR)) AS parent_hashid,
                           event_id,
                           list_slice(['e-' || event_type,
                                       'u-' || CAST(user_id % 5 AS VARCHAR),
                                       'x'],
                                      1, CAST(event_id % 3 AS INT)) AS items
                    FROM win)
            SELECT parent_hashid,
                   CAST(u.pos AS BIGINT) AS pos,
                   u.elem AS element,
                   CAST(event_id AS BIGINT) AS lsn
            FROM (SELECT parent_hashid, event_id,
                         unnest(list_transform(
                             generate_series(1, len(items)),
                             i -> struct_pack(pos := i - 1, elem := items[i]))) u
                  FROM arr)
        """,
        # the maintained view must equal the plain GROUP BY over live rows
        # (every event's latest version is itself; deleted = value < T)
        "cdc_materialized_agg": f"""
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(round(sum(value), 6) AS DOUBLE) AS total_value,
                   CAST(max(event_id) AS BIGINT) AS max_event
            FROM events
            WHERE value >= {DELETE_THRESHOLD}
            GROUP BY user_id
        """,
        # point-in-time by business cursor: each user's latest version at
        # or below the 2/3-max cursor, excluded when that version is a
        # delete — one window + filter over the raw feed
        "cdc_scd2_asof_state": f"""
            WITH w AS (
                SELECT user_id, event_id, event_type, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY event_id DESC) AS rn
                FROM events
                WHERE event_id <=
                      (2 * (SELECT MAX(event_id) FROM events)) // 3)
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(event_id AS BIGINT) AS lsn,
                   event_type,
                   CAST(value AS DOUBLE) AS value
            FROM w
            WHERE rn = 1 AND value >= {DELETE_THRESHOLD}
        """,
        # table-to-table tail across a truncate boundary: dst state =
        # (latest-per-user over slices 0,1, alive only — the overwritten
        # snapshot) full-outer-merged with (latest-per-user over slice 2)
        # under strictly-newer-LSN wins; a slice-2 delete that wins drops
        # the key; the silver hop uppercases event_type on both paths
        "cdc_table_tail": f"""
            WITH a AS (
                SELECT user_id, event_id, event_type, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY event_id DESC) AS rn
                FROM events WHERE event_id % 3 < 2),
            aw AS (SELECT user_id, event_id, event_type, value FROM a
                   WHERE rn = 1 AND value >= {DELETE_THRESHOLD}),
            c AS (
                SELECT user_id, event_id, event_type, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY event_id DESC) AS rn
                FROM events WHERE event_id % 3 = 2),
            cw AS (SELECT user_id, event_id, event_type, value FROM c
                   WHERE rn = 1),
            m AS (
                SELECT COALESCE(aw.user_id, cw.user_id) AS user_id,
                       CASE WHEN cw.user_id IS NOT NULL
                                 AND (aw.user_id IS NULL
                                      OR cw.event_id > aw.event_id)
                            THEN 1 ELSE 0 END AS c_wins,
                       aw.event_id AS a_id, aw.event_type AS a_et,
                       aw.value AS a_v,
                       cw.event_id AS c_id, cw.event_type AS c_et,
                       cw.value AS c_v
                FROM aw FULL OUTER JOIN cw ON aw.user_id = cw.user_id)
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(CASE WHEN c_wins = 1 THEN c_id ELSE a_id END
                        AS BIGINT) AS lsn,
                   upper(CASE WHEN c_wins = 1 THEN c_et ELSE a_et END)
                       AS event_type,
                   CAST(CASE WHEN c_wins = 1 THEN c_v ELSE a_v END
                        AS DOUBLE) AS value
            FROM m
            WHERE NOT (c_wins = 1 AND c_v < {DELETE_THRESHOLD})
        """,
        # Singer round trip: records carry version 1+event_id%2 and
        # ACTIVATE_VERSION 2 is emitted, so the full-table sweep keeps
        # exactly the odd-id rows; typing round-trips through JSON
        "cdc_singer_roundtrip": """
            SELECT event_id, ts, user_id, event_type, value
            FROM events
            WHERE event_id % 2 = 1
        """,
        # the duckdb-dialect render of the same generated model chain the
        # Spark query executes (codegen portability contract)
        "cdc_normalization_codegen": _codegen_oracle_sql(),
        "cdc_intra_batch_dedup": """
            SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n
            FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
            GROUP BY event_type
        """,
        "cdc_surrogate_hash": """
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                       CAST(l_linenumber AS VARCHAR) || '-' || l_returnflag)
                       AS _hashid
            FROM lineitem
        """,
        "cdc_json_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
            FROM events
        """,
        "cdc_schema_union_by_name": """
            SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
            FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT event_id, CAST(NULL AS VARCHAR) AS event_type, value
            FROM events WHERE event_type = 'error'
        """,
        "cdc_event_projection": f"""
            SELECT event_id, event_type, event_id AS _ab_cdc_lsn,
                   CAST(CASE WHEN value < {DELETE_THRESHOLD} THEN 1 ELSE 0 END AS BIGINT)
                       AS is_deleted
            FROM events
        """,
        "pipeline_curation": r"""
            WITH c AS (SELECT doc_id,
                              trim(regexp_replace(text, '\s+', ' ', 'g')) canon
                       FROM documents),
            t AS (SELECT doc_id, canon,
                         CAST(len(string_split_regex(trim(canon), '\s+')) AS BIGINT)
                             n_tokens
                  FROM c)
            SELECT md5(canon) AS text_md5, CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(n_tokens) AS BIGINT) AS n_tokens
            FROM t WHERE n_tokens >= 20 GROUP BY md5(canon)
        """,
        "cdc_nested_unnest": r"""
            WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t
                          FROM documents),
            x AS (SELECT doc_id, unnest(list_transform(
                      generate_series(1, len(t)),
                      i -> struct_pack(pos := i - 1, tok := t[i]))) u
                  FROM toks)
            SELECT md5(CAST(doc_id AS VARCHAR)) AS parent_hashid, doc_id,
                   CAST(u.pos AS BIGINT) AS pos, u.tok AS token
            FROM x
        """,
        "cdc_recursive_unnest": """
            WITH s AS (SELECT doc_id, string_split(trim(text), '.') ss
                       FROM documents),
            l1 AS (SELECT md5(CAST(doc_id AS VARCHAR)) AS ph,
                          u.pos AS spos, u.sent AS sent
                   FROM (SELECT doc_id,
                                unnest(list_transform(
                                    generate_series(1, len(ss)),
                                    i -> struct_pack(pos := i - 1, sent := ss[i]))) u
                         FROM s)),
            l2 AS (SELECT md5(ph || '-' || CAST(spos AS VARCHAR)) AS sent_hashid,
                          u2.pos AS pos, u2.tok AS token
                   FROM (SELECT ph, spos,
                                unnest(list_transform(
                                    generate_series(1, len(ws)),
                                    i -> struct_pack(pos := i - 1, tok := ws[i]))) u2
                         FROM (SELECT ph, spos, string_split(sent, ' ') ws
                               FROM l1)))
            SELECT sent_hashid, CAST(pos AS BIGINT) AS pos, token FROM l2
        """,
        "cdc_list_slice": """
            SELECT event_type AS slice_value,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(max(event_id) AS BIGINT) AS max_lsn
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY 1
        """,
        "cdc_substream_slice": """
            SELECT CAST(l_orderkey AS BIGINT) AS parent_slice,
                   CAST(count(*) AS BIGINT) AS n_items,
                   round(sum(l_extendedprice), 6) AS sum_price
            FROM lineitem
            JOIN (SELECT DISTINCT o_orderkey FROM orders
                  WHERE o_totalprice > 200000) p
              ON l_orderkey = p.o_orderkey
            GROUP BY 1
        """,
        "cdc_record_filter_slice": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS slice_start,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 6) AS sum_value
            FROM events WHERE value >= 10
            GROUP BY 1
        """,
        "cdc_salted_latest_per_key": """
            SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                          ORDER BY event_id DESC) rn FROM events)
            WHERE rn = 1
        """,
        "cdc_name_canonicalize": _name_canon_oracle(),
        "cdc_sessionize": """
            WITH o AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (SELECT user_id, event_id,
                         sum(new_s) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_idx
                  FROM o)
            SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(min(event_id) AS BIGINT) AS first_event,
                   CAST(max(event_id) AS BIGINT) AS last_event
            FROM s GROUP BY 1, 2
        """,
        "text_vocab_topk": r"""
            WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) token
                         FROM documents),
            c AS (SELECT token, CAST(count(*) AS BIGINT) n FROM tok GROUP BY token),
            r AS (SELECT token, n,
                         CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
                             AS rank
                  FROM c)
            SELECT token, n, rank FROM r WHERE rank <= 20
        """,
        "cdc_validation_accounting": """
            WITH feed AS (
              SELECT event_type,
                     CASE WHEN event_id % 97 = 0
                          THEN substr(props, 1, length(props) - 1)
                          ELSE props END AS props_raw
              FROM events)
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_records,
                   CAST(sum(CASE WHEN json_valid(props_raw) THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_valid,
                   CAST(sum(CASE WHEN json_valid(props_raw) THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_invalid
            FROM feed GROUP BY event_type
        """,
        "text_canonicalize": r"""
            SELECT doc_id,
                   nullif(trim(regexp_replace(text, '\s+', ' ', 'g')), '') AS canon_text
            FROM documents
        """,
        "cdc_conversation_assembly": """
            SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
                   string_agg(role || ': ' || txt, chr(10) ORDER BY turn_idx)
                       AS transcript
            FROM (SELECT user_id AS conv_id, event_id AS turn_idx,
                         event_type AS role,
                         CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS txt
                  FROM events)
            GROUP BY conv_id
        """,
        # same events→turns mapping as cdc_conversation_assembly; the
        # adjacency counters come from lag() windows (the oracle need not
        # mirror the one-aggregate array-fold plan, only its values)
        "cdc_dialog_format": """
            WITH turns AS (
              SELECT user_id AS conv_id, event_id AS turn_idx,
                     event_type AS role,
                     CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS txt,
                     ts
              FROM events),
            a AS (SELECT conv_id, turn_idx, role, txt, ts,
                         lag(role) OVER w AS prev_role,
                         lag(ts) OVER w AS prev_ts
                  FROM turns
                  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
            SELECT conv_id,
                   CAST(count(*) AS BIGINT) AS n_turns,
                   CAST(count(DISTINCT role) AS BIGINT) AS n_roles,
                   CAST(sum(CASE WHEN prev_role IS NOT NULL AND prev_role = role
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_role_repeats,
                   CAST(sum(CASE WHEN prev_ts IS NOT NULL AND ts IS NOT NULL
                                  AND ts < prev_ts
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_regressions,
                   CAST(sum(CASE WHEN txt IS NULL OR trim(txt) = ''
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_turns,
                   CAST((sum(CASE WHEN prev_role IS NOT NULL AND prev_role = role
                                  THEN 1 ELSE 0 END)
                         + sum(CASE WHEN prev_ts IS NOT NULL AND ts IS NOT NULL
                                     AND ts < prev_ts THEN 1 ELSE 0 END)
                         + sum(CASE WHEN txt IS NULL OR trim(txt) = ''
                                    THEN 1 ELSE 0 END)) = 0 AS INT)
                       AS well_formed
            FROM a GROUP BY conv_id
        """,
    }
