"""Plans built from memoized expressions (functions/plan_cache.py).

The per-trigger and per-fold plans reuse Columns keyed on what they
depend on. These tests check that the keys are complete (two tables of
different layout and schema, merged alternately, plus a schema change
between merges, each read against its oracle), that a memo never hands
out a Column from a gateway that is gone, and the py4j round-trip
budgets of a warm MOR merge, a maintenance cycle and a replay plan.
"""

import os
import subprocess
import sys
import textwrap
import uuid

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_spark.catalog import FieldTransform, TableSchema
from airbyte_spark.lake import FOLD_ALL, LakeTable, maintain, merge_batch
from airbyte_spark.lake.table import bucket_column
from airbyte_spark.plans.replay import batch_replay
from tests.util import count_py4j_calls

CDC = [
    T.StructField("_ab_cdc_lsn", T.LongType()),
    T.StructField("_ab_cdc_deleted_at", T.TimestampType()),
]
A_FIELDS = [
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("text", T.StringType()),
]
B_FIELDS = [
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("score", T.IntegerType()),
    T.StructField("note", T.StringType()),
]
PK = ["conv_id", "turn_idx"]


def _create(spark, path, fields, n_buckets):
    return LakeTable.create(
        spark, path, TableSchema.from_struct(T.StructType(fields)),
        primary_key=PK, bucket_cols=["conv_id"], n_buckets=n_buckets,
    )


class _Oracle:
    """Latest row per key by LSN; a delete hides the key."""

    def __init__(self, cols):
        self.cols = list(cols)
        self.rows: dict = {}

    def apply(self, rows):
        for r in rows:
            key = (r["conv_id"], r["turn_idx"])
            if key not in self.rows or r["_ab_cdc_lsn"] > self.rows[key]["_ab_cdc_lsn"]:
                self.rows[key] = r

    def read(self):
        return sorted(
            tuple(r.get(c) for c in self.cols)
            for r in self.rows.values() if r["_ab_cdc_deleted_at"] is None
        )


def _merge(spark, table, oracle, fields, rows, batch_id):
    struct = T.StructType([*fields, *CDC])
    batch = spark.createDataFrame(
        [tuple(r.get(f.name) for f in struct.fields) for r in rows], struct
    )
    merge_batch(
        table, batch, ["_ab_cdc_lsn"], app_id="pc", batch_id=batch_id,
        strategy="mor",
    )
    oracle.apply(rows)


def _read(table, cols):
    return sorted(tuple(r) for r in table.read().select(*cols).collect())


def _misbucketed(spark, table) -> int:
    """Rows whose file's bucket is not pmod(hash(bucket_cols), n_buckets),
    the expression written out fresh."""
    snap = table.snapshot()
    paths = [os.path.join(table.path, p) for p in snap.files]
    expr = (
        f"pmod(hash({', '.join(snap.bucket_cols)}), {snap.n_buckets})"
    )
    return (
        spark.read.parquet(*paths)
        .select(
            F.regexp_extract(F.input_file_name(), r"_b=(\d+)", 1)
            .cast("int").alias("file_b"),
            F.expr(expr).alias("row_b"),
        )
        .filter("file_b != row_b")
        .count()
    )


def test_cache_keys_cover_layout_and_schema(spark, tmp_path):
    """Two tables of different bucket count and schema, merged alternately
    in one session, then a column added to one between merges: every read
    equals its oracle and every row sits in its own table's bucket, so a
    cache key that left out the layout or the schema would fail here."""
    a = _create(spark, str(tmp_path / "a"), A_FIELDS, 2)
    b = _create(spark, str(tmp_path / "b"), B_FIELDS, 5)
    oa, ob = _Oracle(["conv_id", "turn_idx", "text"]), _Oracle(
        ["conv_id", "turn_idx", "score", "note"]
    )
    ts = spark.range(1).select(F.current_timestamp()).first()[0]
    lsn = 0
    a_fields = list(A_FIELDS)
    for i in range(3):
        if i == 2:
            a.evolve([FieldTransform("add", "score", new_type=T.DoubleType())])
            a_fields.append(T.StructField("score", T.DoubleType()))
            oa.cols.append("score")
        rows_a, rows_b = [], []
        for k in range(8):
            lsn += 1
            rows_a.append({
                "conv_id": f"c{k % 5}", "turn_idx": k % 2, "text": f"a{lsn}",
                "score": lsn / 2 if i == 2 else None, "_ab_cdc_lsn": lsn,
                "_ab_cdc_deleted_at": ts if lsn % 7 == 0 else None,
            })
            lsn += 1
            rows_b.append({
                "conv_id": f"c{k % 3}", "turn_idx": k % 3, "score": lsn,
                "note": f"b{lsn}", "_ab_cdc_lsn": lsn,
                "_ab_cdc_deleted_at": ts if lsn % 5 == 0 else None,
            })
        _merge(spark, a, oa, a_fields, rows_a, i)
        _merge(spark, b, ob, B_FIELDS, rows_b, i)
    assert _read(a, oa.cols) == oa.read()
    assert _read(b, ob.cols) == ob.read()
    maintain(a, FOLD_ALL)
    maintain(b, FOLD_ALL)
    assert _read(a, oa.cols) == oa.read()
    assert _read(b, ob.cols) == ob.read()
    assert _misbucketed(spark, a) == 0
    assert _misbucketed(spark, b) == 0


def test_memo_is_dropped_when_the_gateway_changes(spark, monkeypatch):
    """A memoized Column is a handle in one JVM: another gateway gets a
    fresh one, and the first gateway's memo is not reused after."""
    first = bucket_column(("conv_id",), 3)
    assert bucket_column(("conv_id",), 3) is first
    live = SparkContext._gateway
    monkeypatch.setattr(SparkContext, "_gateway", object())
    other = bucket_column(("conv_id",), 3)
    assert other is not first
    monkeypatch.setattr(SparkContext, "_gateway", live)
    assert bucket_column(("conv_id",), 3) is not other


_SECOND_GATEWAY = textwrap.dedent(
    """
    import sys
    from pyspark import SparkContext
    from pyspark.sql import SparkSession, types as T
    from airbyte_spark.catalog import TableSchema
    from airbyte_spark.lake import LakeTable, merge_batch

    def session():
        return (
            SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", "1")
            .getOrCreate()
        )

    struct = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.StringType()),
        T.StructField("_ab_cdc_lsn", T.LongType()),
        T.StructField("_ab_cdc_deleted_at", T.TimestampType()),
    ])
    schema = TableSchema.from_struct(T.StructType(struct.fields[:2]))
    for run in range(2):
        spark = session()
        t = LakeTable.create(
            spark, f"{sys.argv[1]}/t{run}", schema, primary_key=["k"],
        )
        batch = spark.createDataFrame([("a", f"v{run}", 1, None)], struct)
        merge_batch(t, batch, ["_ab_cdc_lsn"], strategy="mor")
        assert [tuple(r) for r in t.read().collect()] == [("a", f"v{run}")]
        spark.stop()
        # stop the JVM and its gateway: the next session launches anew
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    print("OK")
    """
)


def test_second_gateway_plans_with_live_handles(tmp_path):
    """A process that stops its gateway and starts another merges and
    reads through the second one: no memo hands out a dead handle."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    out = subprocess.run(
        [sys.executable, "-c", _SECOND_GATEWAY, str(tmp_path)],
        capture_output=True, text=True, timeout=300, env=env, cwd=root,
    )
    assert out.returncode == 0 and "OK" in out.stdout, out.stderr[-3000:]


def _batches(spark, n, start=0):
    struct = T.StructType([*A_FIELDS, *CDC])
    out = []
    for i in range(start, start + n):
        rows = [
            (f"c{k % 9}", k % 4, f"t{i}-{k}", 100 * i + k, None)
            for k in range(30)
        ]
        out.append(spark.createDataFrame(rows, struct))
    return out


def test_warm_mor_merge_py4j_budget(spark, tmp_path):
    """A warm MOR merge_batch builds its plan from memoized expressions:
    at most 400 py4j round trips, write included (about 1,000 when every
    expression was rebuilt per trigger)."""
    table = _create(spark, str(tmp_path / "m"), A_FIELDS, 4)
    batches = _batches(spark, 4)
    for i, b in enumerate(batches[:3]):
        merge_batch(table, b, ["_ab_cdc_lsn"], batch_id=i, strategy="mor")
    with count_py4j_calls() as calls:
        merge_batch(table, batches[3], ["_ab_cdc_lsn"], batch_id=3, strategy="mor")
    assert calls.n <= 400, calls.n


def test_maintain_cycle_py4j_budget(spark, tmp_path):
    """A warm maintenance cycle (fold every bucket's deltas, then vacuum)
    makes at most 300 py4j round trips; rebuilding the fold's resolution,
    projections and sort keys each cycle cost about 700 here."""
    table = _create(spark, str(tmp_path / "c"), A_FIELDS, 4)
    batches = _batches(spark, 6)
    for i, b in enumerate(batches[:3]):
        merge_batch(table, b, ["_ab_cdc_lsn"], batch_id=i, strategy="mor")
    maintain(table, FOLD_ALL)
    for i, b in enumerate(batches[3:], start=3):
        merge_batch(table, b, ["_ab_cdc_lsn"], batch_id=i, strategy="mor")
    with count_py4j_calls() as calls:
        maintain(table, FOLD_ALL)
    assert calls.n <= 300, calls.n


def test_batch_replay_plan_py4j_budget(spark, tmp_path):
    """batch_replay's plan (scan, collapse, canonicalize, project) takes at
    most 150 py4j round trips once its expressions are memoized."""
    from airbyte_spark.feedgen import FeedSpec, generate_feed

    feed = str(tmp_path / "feed")
    generate_feed(feed, FeedSpec(seed=3, n_convs=20, n_updates=200, n_deletes=10, n_segments=2))
    batch_replay(spark, feed)
    with count_py4j_calls() as calls:
        batch_replay(spark, feed)
    assert calls.n <= 150, calls.n


def test_fold_is_one_shuffle_and_bucket_cols_must_be_in_the_key(spark, tmp_path):
    """With AQE off a compaction is ONE job of two stages: rows shuffle to
    their bucket once and resolve there by (_b, pk). The resolved read is
    the same before and after. The per-bucket resolution is exact only
    because a key never spans buckets, which create() enforces."""
    table = _create(spark, str(tmp_path / "f"), A_FIELDS, 4)
    for i, b in enumerate(_batches(spark, 3)):
        merge_batch(table, b, ["_ab_cdc_lsn"], batch_id=i, strategy="mor")
    cols = ["conv_id", "turn_idx", "text"]
    before = _read(table, cols)
    sc = spark.sparkContext
    group = f"fold-{uuid.uuid4().hex}"
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "one-shuffle fold")
    try:
        table.compact()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", prior)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 2
    assert all(m["kind"] == "base" for m in table.snapshot().files.values())
    assert _read(table, cols) == before

    with pytest.raises(ValueError, match="subset of the primary key"):
        LakeTable.create(
            spark, str(tmp_path / "bad"),
            TableSchema.from_struct(T.StructType(A_FIELDS)),
            primary_key=PK, bucket_cols=["text"],
        )
