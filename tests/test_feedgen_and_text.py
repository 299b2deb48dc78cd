import random
import unicodedata

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from airbyte_spark.feedgen import FeedSpec, generate_feed, oracle_final_state
from airbyte_spark.functions.text import (
    canonicalize,
    canonicalize_pandas,
    canonicalize_udf,
)


def test_feed_deterministic(tmp_path):
    d1, d2 = tmp_path / "a", tmp_path / "b"
    spec = FeedSpec(n_convs=20, turns_per_conv=4, n_updates=60, n_deletes=8, seed=7)
    e1 = generate_feed(str(d1), spec)
    e2 = generate_feed(str(d2), spec)
    pd.testing.assert_frame_equal(e1, e2)
    assert sorted(p.name for p in d1.iterdir()) == sorted(p.name for p in d2.iterdir())


def test_feed_shape(tmp_path):
    spec = FeedSpec(n_convs=10, turns_per_conv=3, n_updates=30, n_deletes=5, seed=1)
    ev = generate_feed(str(tmp_path / "f"), spec)
    # per-key LSN monotone in delivery order? no — late events violate delivery
    # order by design, but LSN values themselves are unique
    assert ev["_ab_cdc_lsn"].nunique() <= len(ev)  # dups re-emit same lsn
    dups = ev.duplicated(subset=["conv_id", "turn_idx", "_ab_cdc_lsn"]).sum()
    assert dups > 0  # duplicate events present
    assert (ev["_ab_cdc_deleted_at"].notna()).sum() >= spec.n_deletes


def test_oracle_basics(tmp_path):
    spec = FeedSpec(
        n_convs=5, turns_per_conv=2, n_updates=20, n_deletes=3,
        dup_rate=0.2, late_rate=0.2, seed=3,
    )
    ev = generate_feed(str(tmp_path / "f"), spec)
    final = oracle_final_state(ev)
    # every surviving key's text is the max-LSN non-delete version
    alive = ev[ev["_ab_cdc_deleted_at"].isna()]
    for _, row in final.iterrows():
        k = alive[
            (alive["conv_id"] == row["conv_id"]) & (alive["turn_idx"] == row["turn_idx"])
        ]
        top = k.loc[k["_ab_cdc_lsn"].idxmax()]
        # key survives only if its global max-lsn event is that non-delete
        all_k = ev[
            (ev["conv_id"] == row["conv_id"]) & (ev["turn_idx"] == row["turn_idx"])
        ]
        assert all_k["_ab_cdc_lsn"].max() == top["_ab_cdc_lsn"]
        assert row["text"] == top["text"]
    # deleted keys absent
    last = ev.sort_values("_ab_cdc_lsn").drop_duplicates(
        subset=["conv_id", "turn_idx"], keep="last"
    )
    deleted = last[last["_ab_cdc_deleted_at"].notna()]
    merged = deleted.merge(final, on=["conv_id", "turn_idx"], how="inner")
    assert len(merged) == 0


def test_canonicalize_rules():
    s = pd.Series(
        [
            "  spéçiäl  ",
            "a\tb\n\nc",
            "nul\x00char",
            "",
            None,
            "ünïcode—dash",
            "ok",
        ]
    )
    out = canonicalize_pandas(s)
    assert out[0] == "special"
    assert out[1] == "a b c"
    assert out[2] == "nulchar"
    assert out[3] is None  # empty -> null
    assert out[4] is None
    assert out[5] == "unicode—dash"  # em-dash not a combining mark: kept
    assert out[6] == "ok"


def test_canonicalize_udf_matches_pandas(spark):
    vals = ["  spéçiäl  ", "a\t b", None, "", "x\x00y", "Ĉaŭ  mondo "]
    df = spark.createDataFrame([(v,) for v in vals], "text string")
    got = [
        r["c"]
        for r in df.select(canonicalize_udf("text").alias("c")).collect()
    ]
    want = list(canonicalize_pandas(pd.Series(vals, dtype=object)))
    assert got == [None if w is None else w for w in want]


def _assert_matches_oracle(spark, tmp_path, vals):
    """canonicalize() equals canonicalize_pandas on every value; the
    comparison runs in Spark, only mismatches come back."""
    want = canonicalize_pandas(pd.Series(vals, dtype=object))
    path = tmp_path / "cases"
    path.mkdir()
    n_files = 4  # one task per file: the cases run in parallel
    for k in range(n_files):
        pq.write_table(
            pa.table({
                "i": pa.array(range(k, len(vals), n_files), pa.int64()),
                "s": pa.array(vals[k::n_files], pa.string()),
                "want": pa.array(list(want)[k::n_files], pa.string()),
            }),
            str(path / f"part-{k}.parquet"),
        )
    df = spark.read.parquet(str(path)).withColumn("got", canonicalize("s"))
    bad = df.filter(~F.col("got").eqNullSafe(F.col("want"))).limit(10).collect()
    assert bad == [], [
        ([hex(ord(ch)) for ch in r["s"]], r["want"], r["got"]) for r in bad
    ]


def test_canonicalize_matches_oracle_on_every_code_point(spark, tmp_path):
    """Every code point U+0000..U+10FFFF (surrogates excluded) as a
    one-character string: the Catalyst canonicalizer's fold tables,
    sentinel routing and per-character path agree with the oracle on all
    of them, including code points unassigned in the oracle's Unicode
    version."""
    vals = [chr(cp) for cp in range(0x110000) if not 0xD800 <= cp <= 0xDFFF]
    _assert_matches_oracle(spark, tmp_path, vals)


def _fuzz_strings(n: int, seed: int) -> list:
    """Seeded strings mixing every kind of code point the canonicalizer
    treats differently."""
    one, multi, marks = [], [], []
    for cp in range(0x30000):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        c = chr(cp)
        if unicodedata.combining(c):
            marks.append(c)
        d = "".join(
            ch for ch in unicodedata.normalize("NFKD", c) if not unicodedata.combining(ch)
        )
        if d != c and len(d) == 1:
            one.append(c)
        elif len(d) > 1:
            multi.append(c)
    pools = {
        "ascii": [chr(c) for c in range(0x20, 0x7F)] * 3,
        "c0": [chr(c) for c in range(0x20)] + ["\x7f"],
        "marks": marks,
        "space": [chr(c) for c in range(0x110000) if chr(c).isspace()],
        "one": one,
        "multi": multi + ["…", "™", "ﬁ", "½", "\ufdfa"],
        "hangul": [chr(c) for c in range(0xAC00, 0xD7A4)],
        # assigned after Unicode 14.0: decomposing / marks in later versions
        "later": [chr(c) for c in (*range(0x1E030, 0x1E06E), *range(0x1CCD6, 0x1CCFA))],
        "any": None,
        "edge": ["\uffff", "\x01", "\U0010ffff", "\u00a0", "\u3000"],
    }
    kinds = list(pools)
    weights = [30, 6, 10, 8, 10, 6, 6, 6, 4, 2]
    rng = random.Random(seed)
    out = [None, "", " ", "\x00", "  spéçiäl  ", "a\tb\n\nc", "Ĉaŭ  mondo "]
    while len(out) < n:
        chars = []
        for kind in rng.choices(kinds, weights, k=rng.randint(0, 24)):
            if kind == "any":
                cp = rng.randint(0, 0x10FFFF)
                chars.append(chr(cp if not 0xD800 <= cp <= 0xDFFF else 0x41))
            else:
                chars.append(rng.choice(pools[kind]))
        out.append("".join(chars))
    return out


def test_canonicalize_matches_oracle_on_mixed_fuzz(spark, tmp_path):
    """20,000 seeded strings mixing ASCII, C0 controls, combining marks,
    Unicode whitespace, one- and multi-character folds (…, ™, ﬁ, Hangul)
    and code points assigned after Unicode 14.0."""
    _assert_matches_oracle(spark, tmp_path, _fuzz_strings(20_000, seed=11))


def test_debezium_projection_prefers_source_transaction_time(spark):
    """A full Debezium envelope carries both the envelope ts_ms
    (connector PROCESSING time) and source.ts_ms (DB TRANSACTION time):
    _ab_cdc_updated_at must take the transaction time, or a redelivered
    stale event (newer processing time) would win ordering ties and
    resurrect old data. Envelopes without source.ts_ms still fall back."""
    import datetime

    from airbyte_spark.operators.cdc import project_debezium_events
    from pyspark.sql import types as T

    env_schema = T.StructType([
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("before", T.StructType([T.StructField("id", T.LongType())])),
        T.StructField("after", T.StructType([T.StructField("id", T.LongType())])),
        T.StructField("source", T.StructType([
            T.StructField("lsn", T.LongType()),
            T.StructField("ts_ms", T.LongType()),
        ])),
    ])
    env = spark.createDataFrame(
        [("u", 2_000_000, (1,), (1,), (10, 1_000_000))], env_schema
    )
    (row,) = project_debezium_events(env, ["id"]).collect()
    assert row["_ab_cdc_updated_at"] == datetime.datetime(1970, 1, 1, 0, 16, 40)

    # no source.ts_ms in the envelope schema -> envelope time
    env2_schema = T.StructType(
        list(env_schema.fields[:-1])
        + [T.StructField("source", T.StructType([T.StructField("lsn", T.LongType())]))]
    )
    env2 = spark.createDataFrame([("u", 2_000_000, (1,), (1,), (10,))], env2_schema)
    (row2,) = project_debezium_events(env2, ["id"]).collect()
    assert row2["_ab_cdc_updated_at"] == datetime.datetime(1970, 1, 1, 0, 33, 20)
