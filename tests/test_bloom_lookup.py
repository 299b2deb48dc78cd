"""Point-lookup file skipping via per-bucket-per-commit pk blooms
(Iceberg puffin / Delta bloom-index analog).

Min/max stats answer range predicates but cannot say WHICH of a bucket's
many commit-era files holds a given key; the bloom does. These tests
assert the write path records blooms, the planner prunes to O(files
containing the key), lookups stay byte-equal to a full resolved scan
(updates, tombstones, composite keys), and the blobs survive checkpoint
round-trips and pre-bloom/back-compat metadata."""

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_spark.catalog import TableSchema
from airbyte_spark.lake import LakeTable, merge_batch
from airbyte_spark.schemas import CHANGE_STRUCT, ORDER_COLS, PK, TRANSCRIPT_STRUCT

TS = datetime.datetime(2024, 1, 1)


def _batch(spark, keys, lsn0, deleted=(), text="t"):
    rows = [
        (
            f"c{k}",
            0,
            "user",
            f"{text}-{k}",
            None,
            TS,
            lsn0 + i,
            TS,
            TS if (f"c{k}", 0) in deleted else None,
            TS,
        )
        for i, k in enumerate(keys)
    ]
    return spark.createDataFrame(rows, CHANGE_STRUCT)


def _mk_table(spark, path, bloom_bits=2048, n_buckets=4):
    return LakeTable.create(
        spark,
        path,
        TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK),
        n_buckets=n_buckets,
        bloom_bits=bloom_bits,
    )


def _fill(spark, table, n_batches=6, per_batch=20):
    """MOR-merge disjoint key ranges so each bucket accumulates one delta
    file per batch — the many-commit-era layout point lookups must prune."""
    for b in range(n_batches):
        keys = range(b * per_batch, (b + 1) * per_batch)
        merge_batch(
            table,
            _batch(spark, keys, lsn0=b * 1000),
            ORDER_COLS,
            batch_id=b,
            strategy="mor",
        )
    return n_batches * per_batch


def test_bloom_validation_messages(spark, tmp_path):
    """Each invalid parameter is named in its own error (a bloom_k
    mistake used to report 'bloom_bits must be a positive multiple of
    64', pointing the user at the wrong knob)."""
    with pytest.raises(ValueError, match="bloom_bits"):
        _mk_table(spark, str(tmp_path / "a"), bloom_bits=100)
    with pytest.raises(ValueError, match="bloom_k"):
        LakeTable.create(
            spark,
            str(tmp_path / "b"),
            TableSchema.from_struct(TRANSCRIPT_STRUCT),
            primary_key=list(PK),
            bloom_bits=2048,
            bloom_k=0,
        )


def test_blooms_recorded_on_every_add(spark, tmp_path):
    table = _mk_table(spark, str(tmp_path / "t"))
    _fill(spark, table, n_batches=3)
    snap = table.snapshot()
    assert snap.bloom_bits == 2048 and snap.bloom_k == 6
    assert snap.files
    for meta in snap.files.values():
        blob = meta["bloom"]
        assert blob["m"] == 2048 and blob["k"] == 6
        assert blob["words"]  # at least one set word


def test_plan_prunes_to_files_containing_the_key(spark, tmp_path):
    table = _mk_table(spark, str(tmp_path / "t"))
    _fill(spark, table, n_batches=6, per_batch=20)
    snap = table.snapshot()
    # key from batch 4 only: its bucket holds ~6 commit-era files, the
    # bloom must discard the other commits' files in that bucket
    plan = table.plan_point_lookup([("c85", 0)], snap)
    assert plan["total_files"] == len(snap.files)
    assert plan["bucket_skipped"] > 0  # other buckets never probed
    assert plan["bloom_skipped"] >= 3  # same-bucket, other-commit files
    assert 1 <= len(plan["files"]) <= 2  # the containing file (+ rare FP)
    got = table.point_lookup([("c85", 0)]).collect()
    assert len(got) == 1 and got[0].text == "t-85"


def test_point_lookup_matches_full_scan_with_updates_and_deletes(
    spark, tmp_path
):
    table = _mk_table(spark, str(tmp_path / "t"))
    n = _fill(spark, table, n_batches=5, per_batch=20)
    # batch 5: update c7, delete c42
    merge_batch(
        table,
        _batch(spark, [7, 42], lsn0=99000, deleted=[("c42", 0)], text="v2"),
        ORDER_COLS,
        batch_id=5,
        strategy="mor",
    )
    keys = [("c7", 0), ("c42", 0), ("c63", 0), ("c999", 0)]  # last: absent
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in table.point_lookup(keys).collect()
    }
    full = {
        (r.conv_id, r.turn_idx): r.text
        for r in table.read()
        .filter(F.col("conv_id").isin("c7", "c42", "c63", "c999"))
        .collect()
    }
    assert got == full
    assert got[("c7", 0)] == "v2-7"  # latest version wins
    assert ("c42", 0) not in got  # tombstone resolved
    assert ("c999", 0) not in got  # never written


def test_many_keys_semi_join_path(spark, tmp_path):
    table = _mk_table(spark, str(tmp_path / "t"))
    n = _fill(spark, table, n_batches=4, per_batch=30)
    keys = [(f"c{i}", 0) for i in range(0, 100)]  # > 64 -> semi-join path
    got = table.point_lookup(keys).count()
    assert got == 100


def test_no_bloom_table_is_conservative_but_exact(spark, tmp_path):
    table = _mk_table(spark, str(tmp_path / "t"), bloom_bits=0)
    _fill(spark, table, n_batches=4)
    snap = table.snapshot()
    assert snap.bloom_bits == 0
    assert all(m["bloom"] is None for m in snap.files.values())
    plan = table.plan_point_lookup([("c5", 0)], snap)
    assert plan["bloom_skipped"] == 0 and plan["bucket_skipped"] > 0
    got = table.point_lookup([("c5", 0)]).collect()
    assert len(got) == 1 and got[0].text == "t-5"


def test_bloom_survives_checkpoint_and_reopen(spark, tmp_path):
    path = str(tmp_path / "t")
    table = _mk_table(spark, path)
    _fill(spark, table, n_batches=4)
    table._write_checkpoint()
    fresh = LakeTable(spark, path)
    snap = fresh.snapshot()
    assert snap.bloom_bits == 2048
    assert all(m.get("bloom") for m in snap.files.values())
    plan = fresh.plan_point_lookup([("c65", 0)], snap)
    assert plan["bloom_skipped"] >= 1
    got = fresh.point_lookup([("c65", 0)]).collect()
    assert len(got) == 1 and got[0].text == "t-65"


def test_scalar_key_single_column_pk(spark, tmp_path):
    schema = TableSchema.from_struct(
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("payload", T.StringType(), True),
            ]
        )
    )
    table = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        schema,
        primary_key=["id"],
        n_buckets=4,
        bloom_bits=1024,
        bloom_k=4,
    )
    for b in range(3):
        df = spark.range(b * 50, (b + 1) * 50).select(
            F.col("id"), F.concat(F.lit(f"b{b}-"), F.col("id")).alias("payload")
        )
        merge_batch(
            table,
            df.withColumn("_lsn", F.col("id") + b * 1000).withColumn(
                "_del", F.lit(None).cast("timestamp")
            ),
            ["_lsn"],
            cursor="_lsn",
            deleted_col="_del",
            batch_id=b,
            strategy="mor",
        )
    got = {r.id: r.payload for r in table.point_lookup([7, 120]).collect()}
    assert got == {7: "b0-7", 120: "b2-120"}
    plan = table.plan_point_lookup([7])
    assert plan["bloom_skipped"] >= 1


def test_compaction_rewrites_blooms(spark, tmp_path):
    table = _mk_table(spark, str(tmp_path / "t"))
    _fill(spark, table, n_batches=5)
    from airbyte_spark.lake.maintenance import MaintenancePolicy, maintain_until_clean

    maintain_until_clean(table, MaintenancePolicy(min_files=2))
    snap = table.snapshot()
    # compacted base files carry fresh blooms covering the folded keys
    assert all(m.get("bloom") for m in snap.files.values())
    got = table.point_lookup([("c33", 0)]).collect()
    assert len(got) == 1 and got[0].text == "t-33"


def test_lookup_planning_starts_no_spark_job(spark, tmp_path):
    """The probe keys are a local VALUES relation that the driver
    evaluates: planning a lookup of a few keys or of more than 64 (the
    broadcast semi-join) starts no Spark job, and both read exactly the
    keys' rows."""
    import uuid

    table = _mk_table(spark, str(tmp_path / "t"))
    _fill(spark, table, n_batches=3)
    few = [(f"c{k}", 0) for k in (1, 25, 59, 999)]
    many = [(f"c{k}", 0) for k in range(0, 60)] + [(f"c{k}", 0) for k in range(990, 1000)]
    sc = spark.sparkContext
    group = f"plan-lookup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan lake lookups")
    try:
        plan = table.plan_point_lookup(few)
        small = table.point_lookup(few)
        large = table.point_lookup(many)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert plan["bloom_skipped"] > 0
    full = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
    for keys, df in ((few, small), (many, large)):
        got = sorted((r.conv_id, r.turn_idx, r.text) for r in df.collect())
        assert got == sorted((*k, full[k]) for k in set(keys) if k in full)
