"""Randomized model test: a seeded sequence of lake operations (merge cow/
mor, compact, vacuum, rebucket, rollback, reset) is checked after every step
against a plain-dict replay model. The lake's entire public behavior —
LSN conflict resolution, tombstones, fencing, layout evolution, restore —
must match the 20-line model exactly, whatever the interleaving.
"""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from airbyte_spark.catalog import TableSchema
from airbyte_spark.functions.names import canonicalize_identifier
from airbyte_spark.lake import LakeTable, merge_batch
from airbyte_spark.lake.table import _LISTING_KEY, _TS_KEY, _scoped_conf
from airbyte_spark.schemas import CHANGE_STRUCT, ORDER_COLS, PK, TRANSCRIPT_STRUCT

_SCOPED_KEYS = (_TS_KEY, _LISTING_KEY)

KEYS = [("c%d" % c, t) for c in range(6) for t in range(3)]


def _batch_df(spark, rows):
    ts = pd.Timestamp("2025-01-01").to_pydatetime()
    data = [
        (conv, turn, "user", text, None, ts, lsn, ts,
         ts if deleted else None, ts)
        for (conv, turn, lsn, text, deleted) in rows
    ]
    return spark.createDataFrame(data, schema=CHANGE_STRUCT)


def _model_read(model):
    return sorted(
        (c, t, v["text"]) for (c, t), v in model.items() if not v["deleted"]
    )


def _table_read(table):
    return sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in table.read().select("conv_id", "turn_idx", "text").collect()
    )


def test_lake_random_op_sequence_matches_model(spark, tmp_path):
    rng = random.Random(4242)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=4,
    )
    model: dict = {}
    history = []  # (version, model snapshot, next batch_id) for rollbacks
    lsn = 0
    batch_id = 0

    def apply_merge(strategy):
        nonlocal lsn, batch_id
        rows = []
        for _ in range(rng.randint(1, 8)):
            conv, turn = rng.choice(KEYS)
            lsn += 1
            deleted = rng.random() < 0.2
            rows.append((conv, turn, lsn, f"v{lsn}", deleted))
            cur = model.get((conv, turn))
            if cur is None or lsn > cur["lsn"]:
                model[(conv, turn)] = {"lsn": lsn, "text": f"v{lsn}", "deleted": deleted}
        merge_batch(table, _batch_df(spark, rows), ORDER_COLS,
                    app_id="model", batch_id=batch_id, strategy=strategy)

    ops = ["merge_cow", "merge_mor", "merge_mor", "compact", "rebucket",
           "rollback", "reset"]
    for step in range(18):
        op = rng.choice(ops)
        if op in ("merge_cow", "merge_mor"):
            apply_merge("cow" if op == "merge_cow" else "mor")
            batch_id += 1
            history.append((table.snapshot().version, dict(model), batch_id))
        elif op == "compact":
            table.compact()
        elif op == "rebucket":
            table.rebucket(rng.choice([2, 4, 8]))
        elif op == "reset":
            # per-stream reset: data gone AND the fence cleared, so the
            # batch-id counter legitimately restarts at 0 — the next merge
            # must APPLY (a reset that left the fence would silently fence
            # every replayed batch off)
            table.reset("model")
            model = {}
            batch_id = 0
            history.append((table.snapshot().version, {}, 0))
        elif op == "rollback" and len(history) >= 2:
            tv, tmodel, tbid = history[rng.randrange(len(history) - 1)]
            try:
                table.rollback(tv)
            except ValueError:
                continue  # target vacuumed/expired — legitimate refusal
            model = dict(tmodel)
            # rollback restores the fences wholesale: the batch-id counter
            # must rewind with them or later merges would be fenced off
            batch_id = tbid
            history = [(v, m, b) for v, m, b in history if v <= tv]
        assert _table_read(table) == _model_read(model), f"divergence at step {step} ({op})"

    # final invariant: lineage watermark equals the model's max applied lsn
    applied = [v["lsn"] for v in model.values()]
    if applied:
        wm = table.lineage_totals().get("max_lsn")
        assert wm is None or wm >= max(applied)


@pytest.mark.parametrize("seed", [7, 99])
def test_identifier_canonicalization_idempotent(seed):
    rng = random.Random(seed)
    alphabet = "aZ9 _-é.ü#\t文%"
    for _ in range(200):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 60)))
        once = canonicalize_identifier(s, max_length=20)
        assert canonicalize_identifier(once, max_length=20) == once


def _mk_plain_table(spark, path, n_buckets=4):
    return LakeTable.create(
        spark, str(path), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=n_buckets,
    )


def test_rollback_across_rebucket_restores_bucket_count(spark, tmp_path):
    """Rolling back ACROSS a rebucket must restore n_buckets too: the
    re-referenced files carry bucket ids computed under the OLD count, and
    a merge planning with the new count would neither read nor remove a
    key's existing rows — duplicate live rows and wrong pruning."""
    table = _mk_plain_table(spark, tmp_path / "t", n_buckets=2)
    rows0 = [("c%d" % i, 0, 10 + i, "v1", False) for i in range(6)]
    merge_batch(table, _batch_df(spark, rows0), ORDER_COLS, app_id="m", batch_id=0)
    v_pre = table.snapshot().version
    table.rebucket(8)
    table.rollback(v_pre)
    assert table.snapshot().n_buckets == 2

    rows1 = [("c%d" % i, 0, 50 + i, "v2", False) for i in range(6)]
    merge_batch(table, _batch_df(spark, rows1), ORDER_COLS, app_id="m", batch_id=1)
    assert _table_read(table) == [("c%d" % i, 0, "v2") for i in range(6)]


def test_append_foreign_lsn_col_and_session_conf_restored(spark, tmp_path):
    """append() must resolve the cursor from the INCOMING frame before the
    conform drops non-schema columns (same contract as overwrite), and a
    lake write must not permanently hijack the session's parquet
    timestamp-encoding conf."""
    table = _mk_plain_table(spark, tmp_path / "t")
    before = {k: spark.conf.get(k, None) for k in _SCOPED_KEYS}
    src = _batch_df(spark, [("c0", 0, 5, "x", False)]).withColumn(
        "__lsn", F.col("_ab_cdc_lsn") * 2
    )
    table.append(src, lsn_col="__lsn")  # '__lsn' is NOT a schema column
    got = table.read(include_meta=True).select("conv_id", "__lsn").collect()
    assert [(r["conv_id"], r["__lsn"]) for r in got] == [("c0", 10)]
    # both the write's timestamp encoding and the scan's listing threshold
    # return to their prior values
    assert {k: spark.conf.get(k, None) for k in _SCOPED_KEYS} == before


def test_concurrent_lake_readers_and_writers_restore_session_conf(
    spark, tmp_path
):
    """Two threads each writing and reading a lake table in ONE session
    overlap their scopes of both confs (the write's timestamp encoding,
    the scan's listing threshold); the user's own settings come back once
    both are done."""
    import threading

    user = {_TS_KEY: "TIMESTAMP_MILLIS", _LISTING_KEY: "48"}
    for k, v in user.items():
        spark.conf.set(k, v)
    try:
        tables = [_mk_plain_table(spark, tmp_path / f"t{n}") for n in range(2)]
        start = threading.Barrier(len(tables))
        errors = []

        def work(table):
            try:
                start.wait()
                for i in range(3):
                    table.append(_batch_df(spark, [(f"c{i}", 0, 1 + i, "x", False)]))
                    table.read()
            except Exception as e:  # surfaced below
                errors.append(e)

        threads = [threading.Thread(target=work, args=(t,)) for t in tables]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert {k: spark.conf.get(k, None) for k in user} == user
        assert [t.read().count() for t in tables] == [3, 3]
    finally:
        for k in user:
            spark.conf.unset(k)


class _FakeConf:
    """The slice of RuntimeConfig that _scoped_conf uses, over a dict."""

    def __init__(self, **kv):
        self.kv = dict(kv)

    def get(self, key, default):
        return self.kv.get(key, default)

    def set(self, key, value):
        self.kv[key] = value

    def unset(self, key):
        self.kv.pop(key, None)


def test_scoped_conf_stress_keeps_value_and_restores_prior():
    """Many threads entering and leaving scopes of two keys in one session:
    inside any scope the key holds the scoped value, and after the last
    scope each key is back to the user's value (or unset)."""
    import sys
    import threading
    import types

    spark = types.SimpleNamespace(conf=_FakeConf(a="user"))
    start = threading.Barrier(12)
    errors = []

    def work(key, value):
        try:
            start.wait()
            for _ in range(300):
                with _scoped_conf(spark, key, value):
                    if spark.conf.get(key, None) != value:
                        errors.append((key, spark.conf.get(key, None)))
        except Exception as e:  # surfaced below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=work, args=(k, v))
            for k, v in [("a", "A"), ("b", "B")] * 6
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:5]
    assert spark.conf.kv == {"a": "user"}
    with _scoped_conf(spark, "a", "A"):
        with pytest.raises(RuntimeError, match="already held"):
            with _scoped_conf(spark, "a", "other"):
                pass
    assert spark.conf.kv == {"a": "user"}


def test_read_planning_starts_no_spark_job(spark, tmp_path, monkeypatch):
    """read() builds its scan from the snapshot's file list: planning a
    scan of more than 32 files (Spark's parallel-listing threshold) starts
    no Spark job, and read_incremental plans off ONE snapshot likewise.
    changes_between over the MOR commits takes each row's version from a
    literal map in the plan: no manifest relation, no join, no job."""
    import uuid

    table = _mk_plain_table(spark, tmp_path / "t", n_buckets=16)
    for i in range(3):
        rows = [(f"conv{c}", 0, 10 * i + 1, f"v{i}", False) for c in range(40)]
        merge_batch(
            table, _batch_df(spark, rows), ORDER_COLS, app_id="m",
            batch_id=i, strategy="mor",
        )
    assert len(table.snapshot().files) > 32
    snapshots = []
    take = table.snapshot

    def counted_snapshot(*args, **kwargs):
        snapshots.append(1)
        return take(*args, **kwargs)

    monkeypatch.setattr(table, "snapshot", counted_snapshot)
    sc = spark.sparkContext
    group = f"plan-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan lake reads")
    try:
        df = table.read()
        feed = table.changes_between(0)
        feed_plan = feed._jdf.queryExecution().executedPlan().toString()
        snapshots.clear()
        changes = table.read_incremental(since_lsn=10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert len(snapshots) == 1
    assert sorted(r.text for r in df.select("text").collect()) == ["v2"] * 40
    assert changes.count() == 80  # the last two batches' rows
    assert "Join" not in feed_plan and "ExistingRDD" not in feed_plan, feed_plan
    assert feed.count() == 120  # one change row per key per MOR commit
