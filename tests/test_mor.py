"""Merge-on-read strategy: delta-file ingest + scan-time resolution +
compaction fold — equivalence with copy-on-write and the pandas oracle."""

import numpy as np
import pytest

from airbyte_spark.catalog import TableSchema
from airbyte_spark.feedgen import FeedSpec, generate_feed, oracle_final_state
from airbyte_spark.functions.text import canonicalize_pandas
from airbyte_spark.lake import LakeTable, merge_batch
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_spark.schemas import CHANGE_STRUCT, ORDER_COLS, PK, TRANSCRIPT_STRUCT

#: CHANGE_STRUCT with a nullable LSN (snapshot records without CDC metadata)
T_NULLABLE_CHANGE = T.StructType(
    [
        T.StructField(f.name, f.dataType, True if f.name == "_ab_cdc_lsn" else f.nullable)
        for f in CHANGE_STRUCT.fields
    ]
)
from airbyte_spark.streaming import ReplayConfig, run_replay_stream
from tests.util import assert_same

SPEC = FeedSpec(n_convs=20, turns_per_conv=4, n_updates=120, n_deletes=15,
                dup_rate=0.08, late_rate=0.08, n_segments=5, seed=77)


def _mk_table(spark, path):
    return LakeTable.create(
        spark, str(path), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=4,
    )


def _merge_chunks(spark, table, ev, k, strategy):
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), k)):
        pdf = ev.iloc[idx][[f.name for f in CHANGE_STRUCT.fields]]
        merge_batch(
            table, spark.createDataFrame(pdf, schema=CHANGE_STRUCT),
            ORDER_COLS, batch_id=i, strategy=strategy,
        )


def test_mor_matches_oracle_and_cow(spark, tmp_path, tmp_path_factory):
    feed = tmp_path_factory.mktemp("morfeed")
    ev = generate_feed(str(feed), SPEC)
    oracle = oracle_final_state(ev)

    t_mor = _mk_table(spark, tmp_path / "mor")
    _merge_chunks(spark, t_mor, ev, 4, "mor")
    # delta files exist, and the un-fenced read resolves correctly
    kinds = {m["kind"] for m in t_mor.snapshot().files.values()}
    assert kinds == {"delta"}
    assert_same(t_mor.read(), oracle)

    t_cow = _mk_table(spark, tmp_path / "cow")
    _merge_chunks(spark, t_cow, ev, 4, "cow")
    assert_same(t_cow.read(), oracle)

    # replayed batch is fenced in mor mode too
    n_files = len(t_mor.snapshot().files)
    _merge_chunks(spark, t_mor, ev, 4, "mor")  # same batch_ids -> all no-ops
    assert len(t_mor.snapshot().files) == n_files
    assert_same(t_mor.read(), oracle)


def test_mor_compaction_folds_deltas(spark, tmp_path, tmp_path_factory):
    feed = tmp_path_factory.mktemp("morfeed2")
    ev = generate_feed(str(feed), SPEC)
    oracle = oracle_final_state(ev)
    table = _mk_table(spark, tmp_path / "t")
    _merge_chunks(spark, table, ev, 4, "mor")

    table.compact()
    snap = table.snapshot()
    assert {m["kind"] for m in snap.files.values()} == {"base"}
    per_bucket = {}
    for p, m in snap.files.items():
        per_bucket.setdefault(m["bucket"], []).append(p)
    assert all(len(v) == 1 for v in per_bucket.values())
    assert_same(table.read(), oracle)
    table.vacuum()
    assert_same(table.read(), oracle)

    # cow merge after fold continues correctly (monotone new batch)
    ev2 = ev.copy()
    ev2["_ab_cdc_lsn"] = ev2["_ab_cdc_lsn"] + int(ev["_ab_cdc_lsn"].max())
    pdf = ev2.iloc[:30][[f.name for f in CHANGE_STRUCT.fields]]
    merge_batch(table, spark.createDataFrame(pdf, schema=CHANGE_STRUCT),
                ORDER_COLS, batch_id=100, strategy="cow")
    assert table.read().count() > 0


def test_mor_streaming_replay(spark, tmp_path, tmp_path_factory):
    feed = tmp_path_factory.mktemp("morfeed3")
    ev = generate_feed(str(feed), SPEC)
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        max_files_per_trigger=2,
        strategy="mor",
    )
    run_replay_stream(spark, cfg)
    table = LakeTable(spark, cfg.table_path)
    assert_same(table.read(), oracle_final_state(ev, canonicalize=canonicalize_pandas))
    # fold and re-check
    table.compact()
    assert_same(table.read(), oracle_final_state(ev, canonicalize=canonicalize_pandas))


def test_mor_streaming_autocompact(spark, tmp_path, tmp_path_factory):
    feed = tmp_path_factory.mktemp("morfeed4")
    ev = generate_feed(str(feed), SPEC)
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        max_files_per_trigger=1,
        strategy="mor",
        compact_every_batches=2,
    )
    run_replay_stream(spark, cfg)
    table = LakeTable(spark, cfg.table_path)
    assert_same(table.read(), oracle_final_state(ev, canonicalize=canonicalize_pandas))
    # folds happened mid-stream: base files exist; delta backlog is bounded
    files = table.snapshot().files
    assert "base" in {m["kind"] for m in files.values()}
    # at most compact_every-1 un-folded batches: every live delta file was
    # written by one commit (its data/<commit subdir>/_b=k/ path)
    delta_commits = {
        p.split("/")[1] for p, m in files.items() if m["kind"] == "delta"
    }
    assert len(delta_commits) <= 1


def test_mor_lsn_tie_is_deterministic_and_matches_cow(spark, tmp_path):
    """Two commits carrying the SAME (pk, __lsn) — a tie-prone cursor such as
    a second-granularity timestamp cast to long, or two snapshot records
    without CDC metadata (NULL LSN). COW resolves 'target keeps on tie';
    the MOR scan must resolve identically (earliest commit wins) and return
    the same row on every read."""
    import pandas as pd

    def batch(text, lsn):
        return pd.DataFrame(
            {
                "conv_id": ["conv-tie"], "turn_idx": [0], "role": ["user"],
                "text": [text], "tool": [None],
                "ts": [pd.Timestamp("2025-01-01")], "_ab_cdc_lsn": [lsn],
                "_ab_cdc_updated_at": [pd.Timestamp("2025-01-01")],
                "_ab_cdc_deleted_at": [pd.NaT],
                "_airbyte_emitted_at": [pd.Timestamp("2025-01-01")],
            }
        )

    for lsn in (10, None):
        results = {}
        for strategy in ("mor", "cow"):
            table = _mk_table(spark, tmp_path / f"{strategy}-{lsn}")
            for i, text in enumerate(["first", "second"]):
                merge_batch(
                    table,
                    spark.createDataFrame(
                        batch(text, lsn), schema=T_NULLABLE_CHANGE
                    ),
                    ORDER_COLS, batch_id=i, strategy=strategy,
                )
            reads = {table.read().collect()[0]["text"] for _ in range(3)}
            assert len(reads) == 1, f"{strategy} read nondeterministic: {reads}"
            results[strategy] = reads.pop()
        assert results["mor"] == results["cow"] == "first", (lsn, results)


def test_merge_tolerates_null_cursor_rows(spark, tmp_path):
    """Snapshot/full-refresh records without CDC metadata (null LSN) must not
    crash the merge; the lineage high-watermark ignores them."""
    import pandas as pd

    table = _mk_table(spark, tmp_path / "t")
    ts = pd.Timestamp("2025-01-01").to_pydatetime()
    rows = [
        ("conv-a", 0, "user", "x", None, ts, None, None, None, ts),
        ("conv-b", 0, "user", "y", None, ts, None, None, None, ts),
    ]
    stats = merge_batch(
        table,
        spark.createDataFrame(rows, schema=T_NULLABLE_CHANGE),
        ORDER_COLS,
        batch_id=0,
    )
    assert not stats.skipped and stats.rows_in == 2
    assert table.read().count() == 2
    lin = table.lineage_df().toPandas()
    assert lin["max_lsn"].isna().all()


def test_cow_merge_folds_pending_deltas(spark, tmp_path, tmp_path_factory):
    """A cow merge on buckets that still hold unfolded deltas resolves them
    transparently: the target read collapses base+delta before the join and
    the rewrite dereferences the delta files."""
    feed = tmp_path_factory.mktemp("morfeed5")
    ev = generate_feed(str(feed), SPEC)
    table = _mk_table(spark, tmp_path / "t")
    # first half as mor deltas, second half as a cow merge
    halves = np.array_split(np.arange(len(ev)), 2)
    pdf0 = ev.iloc[halves[0]][[f.name for f in CHANGE_STRUCT.fields]]
    merge_batch(table, spark.createDataFrame(pdf0, schema=CHANGE_STRUCT),
                ORDER_COLS, batch_id=0, strategy="mor")
    assert {m["kind"] for m in table.snapshot().files.values()} == {"delta"}
    pdf1 = ev.iloc[halves[1]][[f.name for f in CHANGE_STRUCT.fields]]
    merge_batch(table, spark.createDataFrame(pdf1, schema=CHANGE_STRUCT),
                ORDER_COLS, batch_id=1, strategy="cow")
    # the cow rewrite covered every touched bucket's deltas
    snap = table.snapshot()
    touched_kinds = {m["kind"] for m in snap.files.values()}
    assert "base" in touched_kinds
    assert_same(table.read(), oracle_final_state(ev))


def _rows_df(spark, rows):
    """(conv_id, turn_idx, lsn) rows as a CHANGE_STRUCT batch."""
    import datetime as dt

    ts = dt.datetime(2025, 1, 1)
    return spark.createDataFrame(
        [(c, t, "user", f"{c}/{t}@{lsn}", None, ts, lsn, ts, None, ts)
         for c, t, lsn in rows],
        schema=CHANGE_STRUCT,
    )


def _group_stages(sc, group):
    """{stage id: StageInfo} of every job run under job group ``group``.
    Stage ids grow in submission order, so a write's highest stage is the
    one whose tasks write the files (the map stages before it only feed
    its shuffle)."""
    st = sc.statusTracker()
    out = {}
    for j in st.getJobIdsForGroup(group):
        job = st.getJobInfo(j)
        for sid in job.stageIds if job else ():
            info = st.getStageInfo(sid)
            if info is not None:
                out[sid] = info
    return out


def test_mor_write_one_file_per_bucket_in_core_sized_tasks(
    spark, tmp_path, monkeypatch
):
    """A MOR merge touching B buckets leaves exactly one delta file per
    touched bucket with exact LSN bounds, written by a stage of at most
    min(B, defaultParallelism) tasks; compaction leaves one base file per
    rewritten bucket and an unchanged resolved read."""
    import uuid

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    groups = []
    orig = LakeTable.write_data_files

    def grouped_write(self, *args, **kwargs):
        group = f"bucket-write-{uuid.uuid4().hex}"
        groups.append(group)
        sc.setJobGroup(group, "lake bucket write")
        try:
            return orig(self, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(LakeTable, "write_data_files", grouped_write)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=16,
    )
    rows = [(f"conv-{c}", t, 1000 + 7 * c + t) for c in range(60) for t in range(2)]
    batch = _rows_df(spark, rows)
    stats = merge_batch(table, batch, ORDER_COLS, batch_id=0, strategy="mor")
    b = stats.touched_buckets
    assert b > cores, "the batch must touch more buckets than there are cores"

    write_stage = _group_stages(sc, groups[-1])
    assert write_stage[max(write_stage)].numTasks <= min(b, cores)

    snap = table.snapshot()
    expected = {
        r["_b"]: (r["lo"], r["hi"])
        for r in batch.withColumn("_b", table.bucket_expr(snap))
        .groupBy("_b")
        .agg(F.min("_ab_cdc_lsn").alias("lo"), F.max("_ab_cdc_lsn").alias("hi"))
        .collect()
    }
    deltas = [m for m in snap.files.values() if m["kind"] == "delta"]
    assert sorted(m["bucket"] for m in deltas) == sorted(expected)
    assert len(deltas) == b
    for m in deltas:
        assert (m["min_lsn"], m["max_lsn"]) == expected[m["bucket"]]
    assert sum(m["rows"] for m in deltas) == len(rows)

    def resolved():
        got = table.read().select("conv_id", "turn_idx", "text").collect()
        return sorted(tuple(r) for r in got)

    before = resolved()
    table.compact()
    compact_stage = _group_stages(sc, groups[-1])
    assert compact_stage[max(compact_stage)].numTasks <= min(b, cores)
    snap = table.snapshot()
    assert {m["kind"] for m in snap.files.values()} == {"base"}
    assert sorted(m["bucket"] for m in snap.files.values()) == sorted(expected)
    assert resolved() == before


@pytest.mark.parametrize("strategy", ["mor", "cow"])
def test_mor_merge_is_one_action_with_exact_bucket_lineage(
    spark, tmp_path, monkeypatch, strategy
):
    """With AQE off (so every job is one action, not an AQE query stage), a
    MOR merge launches exactly ONE Spark job — its write — and persists
    nothing. A COW merge is that write plus the fold of the touched
    buckets: TWO jobs, the two writes, and it persists nothing either.
    Either way the lineage ``partitions`` (rows, max_lsn, deletes per bucket)
    equal a groupBy("_b") over the collapsed batch, and an empty batch
    leaves no data subdirectory behind."""
    import datetime as dt
    import os
    import uuid

    from pyspark.sql import DataFrame

    from airbyte_spark.operators.dedup import latest_per_key

    sc = spark.sparkContext
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TableSchema.from_struct(TRANSCRIPT_STRUCT),
        primary_key=list(PK), bucket_cols=["conv_id"], n_buckets=8,
    )
    ts = dt.datetime(2025, 1, 1)
    # 30 keys, in-batch duplicates and superseded versions, every 4th
    # key's winner a delete
    rows = []
    for c in range(15):
        for t in range(2):
            k = 2 * c + t
            lsn = 1000 + 10 * k
            rows.append((f"conv-{c}", t, "user", "old", None, ts, lsn, ts, None, ts))
            rows.append((f"conv-{c}", t, "user", "new", None, ts, lsn + 1, ts,
                         ts if k % 4 == 0 else None, ts))
            rows.append(rows[-1])
    batch = spark.createDataFrame(rows, schema=CHANGE_STRUCT)

    persisted = []
    for name in ("persist", "cache"):
        orig_fn = getattr(DataFrame, name)

        def spy(self, *a, _orig=orig_fn, **kw):
            persisted.append(self)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, spy)

    group = f"mor-merge-{uuid.uuid4().hex}"
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "one MOR merge")
    try:
        stats = merge_batch(table, batch, ORDER_COLS, batch_id=0, strategy=strategy)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == (1 if strategy == "mor" else 2)
    assert persisted == []

    snap = table.snapshot()
    kind = "delta" if strategy == "mor" else "base"
    assert {m["kind"] for m in snap.files.values()} == {kind}
    want = {
        r["_b"]: {"rows": r["n"], "max_lsn": r["mx"], "deletes": r["nd"]}
        for r in latest_per_key(batch, PK, ORDER_COLS)
        .withColumn("_b", table.bucket_expr(snap))
        .groupBy("_b")
        .agg(
            F.count("*").alias("n"),
            F.max("_ab_cdc_lsn").alias("mx"),
            F.sum(F.col("_ab_cdc_deleted_at").isNotNull().cast("long")).alias("nd"),
        )
        .collect()
    }
    (entry,) = [x for x in snap.lineage if x.get("batch_id") == 0]
    got = {int(b): v for b, v in entry["partitions"].items()}
    assert got == want
    assert entry["rows_in"] == stats.rows_in == 30
    assert entry["rows_deleted"] == sum(v["deletes"] for v in want.values()) > 0
    assert entry["max_lsn"] == max(v["max_lsn"] for v in want.values())
    assert stats.touched_buckets == len(want)

    data_dir = os.path.join(table.path, "data")
    subdirs = set(os.listdir(data_dir))
    empty = spark.createDataFrame([], schema=CHANGE_STRUCT)
    stats = merge_batch(table, empty, ORDER_COLS, batch_id=1, strategy=strategy)
    assert stats.rows_in == 0 and stats.version is not None
    assert set(os.listdir(data_dir)) == subdirs
    assert table.snapshot().fences["default"] == 1
    stats = merge_batch(
        table, empty, ORDER_COLS, batch_id=2, strategy=strategy,
        commit_empty=False,
    )
    assert stats.version is None
    assert set(os.listdir(data_dir)) == subdirs
    assert table.snapshot().fences["default"] == 1


def test_cow_merge_leaves_no_transient_deltas(spark, tmp_path, tmp_path_factory):
    """A COW merge writes its batch as delta files only as the fold's
    input and deletes them once the commit lands: after COW merges into
    the main and the history table and a commit-scoped vacuum, a deep
    vacuum finds no file that no commit references."""
    from airbyte_spark.lake.scd import bootstrap_scd_table, read_scd, scd_merge_batch

    feed = tmp_path_factory.mktemp("morfeed6")
    ev = generate_feed(str(feed), SPEC)
    table = _mk_table(spark, tmp_path / "t")
    _merge_chunks(spark, table, ev, 3, "cow")
    hist = bootstrap_scd_table(
        spark, str(tmp_path / "h"), CHANGE_STRUCT, PK, bucket_cols=["conv_id"],
        n_buckets=4,
    )
    cols = [f.name for f in CHANGE_STRUCT.fields]
    for i, idx in enumerate(np.array_split(np.arange(len(ev)), 2)):
        scd_merge_batch(
            hist, spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT),
            PK, batch_id=i, strategy="cow",
        )
    for t in (table, hist):
        assert {m["kind"] for m in t.snapshot().files.values()} == {"base"}
        t.vacuum()
        assert t.vacuum(deep=True) == []
    assert_same(table.read(), oracle_final_state(ev))
    assert read_scd(hist).count() == hist.read().count() > 0


def test_cow_fault_before_commit_leaves_only_fold_files(
    spark, tmp_path, tmp_path_factory, monkeypatch
):
    """A fault between the COW fold's write and its commit (here a lost
    commit race): the table reads as before the merge, the batch's
    transient deltas are already gone, a deep vacuum reclaims exactly the
    fold's unreferenced files, and the re-delivered batch then applies."""
    import os

    from airbyte_spark.lake.table import CommitConflict

    feed = tmp_path_factory.mktemp("morfeed7")
    ev = generate_feed(str(feed), SPEC)
    cols = [f.name for f in CHANGE_STRUCT.fields]
    halves = [
        spark.createDataFrame(ev.iloc[idx][cols], schema=CHANGE_STRUCT)
        for idx in np.array_split(np.arange(len(ev)), 2)
    ]
    table = _mk_table(spark, tmp_path / "t")
    merge_batch(table, halves[0], ORDER_COLS, batch_id=0, strategy="cow")
    v0 = table.snapshot().version
    before = sorted(tuple(r) for r in table.read().collect())

    writes = []
    orig_write = LakeTable.write_data_files

    def spy_write(self, *a, **kw):
        out = orig_write(self, *a, **kw)
        writes.append(out[0])
        return out

    def lose_race(self, *a, **kw):
        raise CommitConflict("injected: a concurrent writer won this version")

    monkeypatch.setattr(LakeTable, "write_data_files", spy_write)
    monkeypatch.setattr(LakeTable, "commit", lose_race)
    with pytest.raises(CommitConflict):
        merge_batch(table, halves[1], ORDER_COLS, batch_id=1, strategy="cow")
    monkeypatch.undo()

    deltas, fold = writes
    assert {a["kind"] for a in deltas} == {"delta"}
    assert {a["kind"] for a in fold} == {"base"}
    assert not any(os.path.exists(os.path.join(table.path, a["path"])) for a in deltas)
    assert table.snapshot().version == v0
    assert sorted(tuple(r) for r in table.read().collect()) == before
    assert sorted(table.vacuum(deep=True)) == sorted(a["path"] for a in fold)

    merge_batch(table, halves[1], ORDER_COLS, batch_id=1, strategy="cow")
    assert table.snapshot().version == v0 + 1
    assert_same(table.read(), oracle_final_state(ev))


def test_replay_and_mor_trigger_plans_run_no_python(
    spark, tmp_path, tmp_path_factory, monkeypatch
):
    """The canonicalizer runs in the JVM: neither a batch replay's plan nor
    a streaming MOR trigger's merge-write plan has a Python evaluation node
    (ArrowEvalPython for a pandas UDF, BatchEvalPython for a row UDF), yet
    both canonicalize — their plans carry the fold table's translate."""
    from airbyte_spark.plans.replay import batch_replay

    feed = tmp_path_factory.mktemp("morfeed_nopy")
    ev = generate_feed(str(feed), SPEC)

    def physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    plans = {"replay": [physical(batch_replay(spark, str(feed)))]}
    plans["mor"] = []
    orig = LakeTable.write_data_files

    def spy(self, snap, df, *a, **kw):
        plans["mor"].append(physical(df))
        return orig(self, snap, df, *a, **kw)

    monkeypatch.setattr(LakeTable, "write_data_files", spy)
    cfg = ReplayConfig(
        feed_dir=str(feed),
        table_path=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ck"),
        max_files_per_trigger=SPEC.n_segments,
        strategy="mor",
    )
    run_replay_stream(spark, cfg)
    assert len(plans["mor"]) == 1  # one trigger, one merge write
    for kind, texts in plans.items():
        for text in texts:
            assert "EvalPython" not in text, (kind, text)
            assert "translate(" in text, (kind, text)
    table = LakeTable(spark, cfg.table_path)
    assert_same(table.read(), oracle_final_state(ev, canonicalize=canonicalize_pandas))
