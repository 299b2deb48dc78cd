"""Tests for the training-data pipeline operators (airbyte_spark/ops/*).

Strategy mirrors the repo's oracle-first approach: small in-memory corpora
with hand-computable expected values; cross-engine hash portability is
asserted against known md5 digests.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from airbyte_spark.ops import dedup_docs, text_analysis
from airbyte_spark.ops.hashing import h60

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat on the mat"),  # exact dup of 1
    (3, "the cat sat on the big mat"),  # near dup of 1
    (4, "der hund und die katze und das haus"),
    (5, "completely different words entirely here now"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_h60_matches_md5(spark):
    row = spark.range(1).select(h60(F.lit("abc")).alias("h")).collect()[0]
    expected = int(hashlib.md5(b"abc").hexdigest()[:15], 16)
    assert row.h == expected == 648541476951500027


def test_exact_dedup(docs):
    out = {r.text_md5: r for r in dedup_docs.exact_dedup(docs).collect()}
    assert len(out) == 4  # 5 docs, one exact dup pair
    dup = out[hashlib.md5(b"the cat sat on the mat").hexdigest()]
    assert dup.keep_doc_id == 1 and dup.dup_cnt == 2


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_docs.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0  # near dup
    assert (1, 4) not in pairs and (1, 5) not in pairs


def test_minhash_lsh_candidates(docs):
    cands = {
        (r.doc_a, r.doc_b): r.shared_bands
        for r in dedup_docs.minhash_lsh_candidates(docs).collect()
    }
    assert cands[(1, 2)] == 6  # identical docs share every band
    assert (4, 5) not in cands  # dissimilar docs never become candidates


def test_simhash_hamming(docs):
    sig = {r.doc_id: r.simhash for r in dedup_docs.simhash_signatures(docs).collect()}
    assert sig[1] == sig[2]  # identical text -> identical signature
    assert 0 <= bin(sig[1] ^ sig[3]).count("1") <= 20  # near dup: small distance
    assert all(0 <= s < 2**60 for s in sig.values())
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup_docs.simhash_pairs(docs, max_hamming=0).collect()
    }
    assert pairs == {(1, 2): 0}


def test_simhash_block_permutation_bounds_occupancy(spark):
    """Adversarial corpus for the banding's scale contract: every
    signature shares the same low 15 bits (exactly the slice a plain
    4×15-bit banding keys its first table on — that shape would put ALL
    n docs in one bucket, an n²/2 join fanout). The block-permutation
    keys each carry ≥15 bits of the remaining signature, so max bucket
    occupancy stays ~n/2^15 — bounded, corpus-independent collisions —
    while recall over an embedded near-dup pair is preserved."""
    from pyspark.sql import functions as F

    from airbyte_spark.ops.dedup_docs import simhash_bands_from_sigs

    n = 4096
    # 45 pseudo-random high bits, constant low 15 bits
    sig = spark.range(n).select(
        F.col("id").cast("long").alias("doc_id"),
        (
            F.shiftleft(
                F.pmod(F.xxhash64(F.col("id")), F.lit(1 << 45)), 15
            )
            + F.lit(0x5A5A)
        ).cast("long").alias("simhash"),
    )
    bands = simhash_bands_from_sigs(sig)
    # C(6,3) = 20 tables, one entry per (doc, table)
    assert bands.count() == n * 20
    occ = (
        bands.groupBy("band_idx", "band_val")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert occ <= 16, f"bucket occupancy {occ} — banding degenerated"
    # recall: force a hamming-3 pair and assert the banded join finds it
    pair = spark.createDataFrame(
        [(100000, 0x0123456789ABC), (100001, 0x0123456789ABC ^ 0b10101)],
        "doc_id long, simhash long",
    )
    bt = simhash_bands_from_sigs(pair)
    hits = (
        bt.alias("a")
        .join(
            bt.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .count()
    )
    assert hits >= 1  # pigeonhole: some 3-block combination matches


def test_simhash_banded_equals_exact_and_no_cartesian(spark, docs):
    """The banded pigeonhole join must return the identical pair set as the
    all-pairs verifier for hamming <= n_bands-1, and its physical plan must
    contain no cartesian/broadcast-nested-loop join."""
    # wider corpus: near-dup clusters + unrelated docs
    rows = list(DOCS) + [
        (10 + i, f"shared prefix words here and also tail token{i}") for i in range(12)
    ] + [(30 + i, f"totally unrelated corpus slice number {i} with junk") for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup_docs.simhash_pairs(df, max_hamming=3).collect()
    }
    banded_df = dedup_docs.simhash_banded_pairs(df, max_hamming=3)
    banded = {(r.doc_a, r.doc_b, r.hamming) for r in banded_df.collect()}
    assert banded == exact and len(exact) > 0
    plan = banded_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_hot_shingle_cap(spark):
    """One shingle present in EVERY doc (stopword trigram) must not create
    quadratic fanout: with the df cap the ubiquitous shingle is dropped and
    only genuinely-similar pairs survive."""
    n = 200
    rows = [(i, f"one of the unique{i} tokens{i} here{i}") for i in range(n)]
    rows += [(1000, "one of the shared tail words"), (1001, "one of the shared tail words")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup_docs.ngram_jaccard_pairs(df, threshold=0.5, max_shingle_df=10).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    # without the cap the 'one of the' shingle alone would materialize
    # ~n²/2 ≈ 20k candidate rows; with it only the true dup pair remains
    assert pairs == {(1000, 1001)}
    # and jaccard is computed over the capped shingle space: identical docs -> 1.0
    assert out[0].jaccard == 1.0


def test_language_id(docs):
    out = {r.doc_id: r for r in text_analysis.language_id(docs).collect()}
    assert out[1].lang_guess == "en" and out[1].en_cnt == 2
    assert out[4].lang_guess == "de" and out[4].de_cnt == 5
    assert out[5].lang_guess == "und"


def test_quality_and_tokens(docs):
    q = {r.doc_id: r for r in text_analysis.quality_score(docs).collect()}
    assert q[1].n_tokens == 6 and q[1].n_chars == 22
    # "the" x2 + "on" ... stopwords: the,the,on -> wait EN_STOPWORDS has no "on"
    t = {r.doc_id: r for r in text_analysis.token_count(docs).collect()}
    assert t[1].ws_tokens == 6 and t[1].bpe_tokens == 6


def test_fingerprint_shift_invariance(spark):
    # same content prefixed by an edit far away keeps the same min-shingle
    df = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrstuvwxyz"), (2, "abcdefghijklmnopqrstuvwxyz!!")],
        ["doc_id", "text"],
    )
    fps = {r.doc_id: r.fingerprint for r in text_analysis.fingerprint(df).collect()}
    # doc 2 adds shingles but the min over shared shingles can only decrease
    assert fps[2] <= fps[1]


    # cross-label pair (0,4) is anti-parallel AND blocked by label anyway


def test_quality_score_empty_document(spark):
    """Empty docs are exactly what a quality filter must SCORE (0 ratios),
    not crash on under ANSI."""
    from airbyte_spark.ops.text_analysis import quality_score

    prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        docs = spark.createDataFrame(
            [(1, ""), (2, "the quick fox")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in quality_score(docs).collect()}
        assert rows[1]["alpha_ratio"] == 0.0 and rows[1]["stop_ratio"] == 0.0
        assert rows[2]["alpha_ratio"] > 0.5
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_banding_guards_raise(spark):
    import pytest

    from airbyte_spark.ops.dedup_docs import (
        minhash_lsh_candidates,
        simhash_banded_pairs,
    )

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_candidates(docs, k=12, band_width=5)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_banded_pairs(docs, n_blocks=4, max_hamming=4)
