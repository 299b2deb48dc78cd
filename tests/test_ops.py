"""Tests for the training-data pipeline operators (airbyte_spark/ops/*).

Strategy mirrors the repo's oracle-first approach: small in-memory corpora
with hand-computable expected values; cross-engine hash portability is
asserted against known md5 digests.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from airbyte_spark.ops import dedup_docs, embeddings as emb_ops, text_analysis
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


EMB = [
    (0, [1.0, 0.0, 0.0], 0),
    (1, [0.9, -0.1, 0.0], 0),  # near dup of 0 (same sign-bucket: only dim 0 positive)
    (2, [0.0, 1.0, 0.0], 0),
    (3, [0.0, 0.0, 1.0], 1),
    (4, [-1.0, 0.0, 0.0], 1),
]


@pytest.fixture(scope="module")
def emb(spark):
    from pyspark.sql.types import ArrayType, FloatType, IntegerType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    return spark.createDataFrame(EMB, schema)


def test_cosine_topk(emb):
    out = emb_ops.cosine_topk(emb, n_queries=1, k=2).collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [(1, 1), (2, 2)]
    assert out[0].cos == pytest.approx(0.993884, abs=1e-6)


def test_label_blocked_near_dup(emb):
    out = emb_ops.label_blocked_near_dup(emb, threshold=0.9).collect()
    assert [(r.vec_a, r.vec_b) for r in out] == [(0, 1)]
    # cross-label pair (0,4) is anti-parallel AND blocked by label anyway


def test_ivf_hot_cell_cap(spark):
    """One giant IVF cell must split into bounded sub-cells under the cap:
    the join still completes with O(cap²) groups and capped output is a
    subset of the uncapped pair set."""
    import math
    from pyspark.sql.types import ArrayType, FloatType, IntegerType, LongType, StructField, StructType

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    # 200 near-identical vectors all in label 0 (pathological hot cell)
    rows = [(i, [1.0, 0.001 * (i % 7), 0.0], 0) for i in range(200)]
    df = spark.createDataFrame(rows, schema)
    uncapped = emb_ops.label_blocked_near_dup(df, threshold=0.99, max_cell_size=None)
    capped = emb_ops.label_blocked_near_dup(df, threshold=0.99, max_cell_size=25)
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un == 200 * 199 // 2  # everything matches everything
    # bounded: at most ceil(200/25)=8 sub-cells of 25 -> 8 * C(25,2) pairs
    assert 0 < n_cap <= 8 * (25 * 24 // 2)
    pairs_cap = {(r.vec_a, r.vec_b) for r in capped.collect()}
    pairs_un = {(r.vec_a, r.vec_b) for r in uncapped.collect()}
    assert pairs_cap <= pairs_un
    # the cap is ON BY DEFAULT: a skewed cell can never go quadratic
    # without the caller explicitly opting out (max_cell_size=None)
    cap = emb_ops.DEFAULT_MAX_CELL_SIZE
    n_sub = -(-200 // cap)  # ceil
    n_default = emb_ops.label_blocked_near_dup(df, threshold=0.99).count()
    assert 0 < n_default <= n_sub * (cap * (cap - 1) // 2) < n_un


def test_sign_lsh_bucketing(emb):
    b = {r.vec_id: r.bucket for r in emb_ops.sign_lsh_buckets(emb, n_bits=3).collect()}
    assert b[0] == 0b001 and b[2] == 0b010 and b[4] == 0
    out = emb_ops.sign_lsh_near_dup(emb, n_bits=3, threshold=0.5).collect()
    assert [(r.vec_a, r.vec_b) for r in out] == [(0, 1)]


def test_connected_components_chain_and_isolates(spark):
    """Pointer-jumping CC: a 12-node path (needs multiple propagation
    rounds — diameter >> 1), a triangle, a 2-clique and isolated nodes all
    resolve to min-id components; edge direction/dups/self-loops are
    normalized away."""
    from airbyte_spark.ops.graph import connected_components

    chain = [(i, i + 1) for i in range(100, 111)]          # 100..111 path
    tri = [(1, 2), (2, 3), (3, 1)]
    pair = [(7, 8), (8, 7), (7, 7)]                        # dup + self-loop
    edges = spark.createDataFrame(chain + tri + pair, ["src", "dst"])
    nodes = spark.createDataFrame(
        [(n,) for n in ([*range(100, 112), 1, 2, 3, 7, 8, 55])], ["node"]
    )
    out = {
        r.node: r.component
        for r in connected_components(nodes, edges).collect()
    }
    assert all(out[n] == 100 for n in range(100, 112))
    assert out[1] == out[2] == out[3] == 1
    assert out[7] == out[8] == 7
    assert out[55] == 55  # isolated node is its own canonical

    # an edge touching an id OUTSIDE the node set must not leak into the
    # output nor steal the component id (node==component stays pickable)
    stray = spark.createDataFrame([(0, 7)], ["src", "dst"])  # 0 not a node
    out2 = {
        r.node: r.component
        for r in connected_components(nodes, edges.union(stray)).collect()
    }
    assert 0 not in out2 and out2[7] == out2[8] == 7


def test_cosine_zero_norm_vector_does_not_crash(spark):
    """A zero-norm embedding (padded/missing) has undefined cosine —
    treated as similarity 0 (never a near-dup), not DIVIDE_BY_ZERO under
    ANSI mode (the Spark 4 default outside this test session)."""
    from airbyte_spark.ops.embeddings import label_blocked_near_dup

    prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        emb = spark.createDataFrame(
            [(1, 0, [0.0, 0.0]), (2, 0, [1.0, 2.0]), (3, 0, [2.0, 4.0])],
            "vec_id long, label int, embedding array<double>",
        )
        rows = label_blocked_near_dup(emb, threshold=0.9).collect()
        assert [(r["vec_a"], r["vec_b"]) for r in rows] == [(2, 3)]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


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


def test_sign_bucket_short_embeddings_and_default_alignment(spark):
    """Embeddings shorter than n_bits contribute 0-bits for the missing
    dims in BOTH ANSI and legacy modes (F.get, no INVALID_ARRAY_INDEX);
    the bucket-table default matches the near-dup path (8 bits)."""
    import inspect

    from airbyte_spark.ops import embeddings as E

    prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        emb = spark.createDataFrame(
            [(1, [1.0, -1.0]), (2, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        rows = {r["vec_id"]: r["bucket"] for r in E.sign_lsh_buckets(emb).collect()}
        assert rows[1] == 1  # dim-2 vector: bits 2..7 are 0, no crash
        assert rows[2] == 255  # only the first 8 dims counted
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert inspect.signature(E.sign_lsh_buckets).parameters["n_bits"].default == 8


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


def test_ivf_assign_and_search(spark):
    """IVF assignment puts every vector in its geometrically nearest cell;
    nprobe=n_cells search equals brute-force top-k exactly (recall dial at
    its max), and the probed plan broadcasts the query/probe side."""
    import math

    # ids 0..3 are the 4 unit directions (they BECOME the centroids —
    # ivf_assign defaults to the first n_cells vectors); ids 4.. are
    # perturbed copies, two per direction
    vecs = []
    for d in range(4):
        base = [0.0] * 8
        base[d] = 1.0
        vecs.append((d, base))
    nxt = 4
    for d in range(4):
        for j in range(2):
            v = [0.0] * 8
            v[d] = 1.0
            v[(d + 4) % 8] = 0.05 * (j + 1)
            vecs.append((nxt, v))
            nxt += 1
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])

    assigned = {r["vec_id"]: r["cell"] for r in emb_ops.ivf_assign(emb, n_cells=4).collect()}
    assert len(assigned) == 12
    for d in range(4):
        assert assigned[d] == d  # a centroid lands in its own cell
        assert assigned[4 + 2 * d] == d and assigned[5 + 2 * d] == d

    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in emb_ops.cosine_topk(emb, n_queries=4, k=2).collect()
    }
    full_probe = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in emb_ops.ivf_search(emb, n_cells=4, n_queries=4, nprobe=4, k=2).collect()
    }
    assert full_probe == exact  # nprobe = n_cells degenerates to brute force

    plan = emb_ops.ivf_search(emb, n_cells=4)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan and "CartesianProduct" not in plan


def test_sign_lsh_bucket_cap(spark):
    """200 identical-sign vectors land in ONE bucket — the constant-
    cardinality hazard. The default cap sub-splits the bucket into rank
    chunks of exactly <=48 rows, bounding every join group at O(cap²);
    max_bucket_size=None opts out (full O(n²) pair set)."""
    n = 200
    rows = [(i, [1.0 + (i % 7) * 0.01, 1.0, 1.0]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    un = emb_ops.sign_lsh_near_dup(
        df, n_bits=3, threshold=0.0, max_bucket_size=None
    ).count()
    assert un == n * (n - 1) // 2
    cap = emb_ops.DEFAULT_MAX_BUCKET_SIZE
    capped = emb_ops.sign_lsh_near_dup(df, n_bits=3, threshold=0.0).count()
    want = (n // cap) * (cap * (cap - 1) // 2) + (
        (n % cap) * (n % cap - 1) // 2
    )
    assert capped == want


def test_train_centroids_improves_assignment(spark):
    """Lloyd refinement on a synthetic clustered corpus: 4 tight direction
    clusters in 8-dim, but the seeded init (first k vectors) covers only
    clusters 0 and 1 — training must separate what the seed lumped
    together, measurably raising the mean assignment cosine; iters=0
    reproduces the untrained seeded centroids exactly."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = np.zeros((4, 8))
    for c in range(4):
        base[c, 2 * c] = 1.0  # orthogonal cluster directions
    order = [0, 1, 0, 1] + [i % 4 for i in range(36)]
    rows = [
        (i, [float(x) for x in base[cl] + rng.normal(0, 0.03, 8)])
        for i, cl in enumerate(order)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    seeded = emb_ops.train_centroids(emb, k=4, iters=0)
    trained = emb_ops.train_centroids(emb, k=4, iters=4)
    s0 = emb_ops.mean_assignment_cos(emb, seeded)
    s1 = emb_ops.mean_assignment_cos(emb, trained)
    assert s1 > s0 + 0.05, (s0, s1)
    assert s1 > 0.95  # tight clusters: trained cells are near-pure
    # iters=0 == the untrained seeded init, bit for bit
    untouched = {
        r.cell: r.c for r in emb_ops._centroids(emb, 4).collect()
    }
    assert {r.cell: r.c for r in seeded.collect()} == untouched
