"""Tests for the round-5 curation additions: Gopher repetition filters,
exact-substring (window-hash) dedup and target-domain-mixture sampling.

Hand-checkable fixtures; every op must be a pure deterministic function
of its input (the DuckDB oracle re-derives each from SQL)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airbyte_spark.ops.curation import domain_mixture_sample
from airbyte_spark.ops.dedup_docs import exact_substring_dups, window_hash_table
from airbyte_spark.ops.text_analysis import repetition_scores


# ---------------------------------------------------------------------------
# repetition_scores
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def rep_docs(spark):
    return spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),  # one token repeated
            (2, "a b a b a b a b"),           # dominant bigram "a b"
            (3, "u v w x y z"),               # all distinct
            (4, "solo"),                      # 1 token: no n-grams
            (5, "x y z x y z x y z"),         # dominant trigram
            # 18 tokens, 14 distinct (dup 0.22 < 0.6) but bigram "a b"
            # holds 4/17 > 0.2 of all bigrams — the n-gram criterion must
            # fire on its own once the doc clears REP_MIN_NGRAMS
            (6, "a b a b a b a b c d e f g h i j k l"),
        ],
        ["doc_id", "text"],
    )


def test_repetition_scores_values(spark, rep_docs):
    rows = {r["doc_id"]: r for r in repetition_scores(rep_docs).collect()}
    # doc 1: 5 tokens, 1 distinct -> dup 0.8; bigrams all "spam spam" (4/4)
    assert rows[1]["dup_token_frac"] == pytest.approx(0.8)
    assert rows[1]["top_bigram_frac"] == pytest.approx(1.0)
    assert rows[1]["top_trigram_frac"] == pytest.approx(1.0)
    assert rows[1]["repetitive"] == 1
    # doc 2: bigram "a b" occurs 4 of 7
    assert rows[2]["top_bigram_frac"] == pytest.approx(4 / 7, abs=1e-6)
    assert rows[2]["repetitive"] == 1
    # doc 3: clean — and SHORT, so its trivially-high trigram fraction
    # (1/4 > 0.18) must NOT flag it: the n-gram bars are gated on
    # REP_MIN_NGRAMS
    assert rows[3]["dup_token_frac"] == 0.0
    assert rows[3]["top_bigram_frac"] == pytest.approx(1 / 5, abs=1e-6)
    assert rows[3]["repetitive"] == 0
    # doc 4: single token -> zero n-grams, zero fractions, not a crash
    assert rows[4]["n_tokens"] == 1
    assert rows[4]["top_bigram_frac"] == 0.0
    assert rows[4]["top_trigram_frac"] == 0.0
    # doc 5: trigram "x y z" occurs 3 of 7
    assert rows[5]["top_trigram_frac"] == pytest.approx(3 / 7, abs=1e-6)
    # doc 6: long enough for the n-gram bar; dup_token alone would pass
    assert rows[6]["dup_token_frac"] < 0.6
    assert rows[6]["top_bigram_frac"] == pytest.approx(4 / 17, abs=1e-6)
    assert rows[6]["repetitive"] == 1


def test_repetition_scores_map_only_plan(spark, rep_docs):
    # the whole op must be scan -> project: no Exchange anywhere
    plan = repetition_scores(rep_docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# exact_substring_dups
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sub_docs(spark):
    shared = "one two three four five six seven eight nine ten"
    return spark.createDataFrame(
        [
            (1, shared + " tail-a unique-a"),
            (2, "head-b " + shared + " tail-b"),   # shares the 10-token run
            (3, "all fresh words here nothing shared at all today friend"),
            (4, "short doc"),                       # < window tokens
            (5, shared + " " + shared),             # self-repeat
        ],
        ["doc_id", "text"],
    )


def test_window_hash_table_counts(spark, sub_docs):
    wt = window_hash_table(sub_docs, window=10)
    per_doc = {r["doc_id"]: r["n"] for r in
               wt.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    # doc 1: 12 tokens -> 3 windows; doc 4: too short -> absent
    assert per_doc[1] == 3
    assert 4 not in per_doc
    # doc 5: 20 tokens -> 11 windows
    assert per_doc[5] == 11


def test_exact_substring_dups(spark, sub_docs):
    rows = {r["doc_id"]: r for r in exact_substring_dups(sub_docs, window=10).collect()}
    # docs 1/2/5 share the exact 10-token run -> each has >= 1 dup window
    assert rows[1]["has_dup"] == 1
    assert rows[2]["has_dup"] == 1
    # doc 5 repeats the run within itself twice -> both occurrences dup'd
    assert rows[5]["has_dup"] == 1
    assert rows[5]["n_dup_windows"] >= 2
    # doc 3 is clean, doc 4 scores 0 windows but is NOT dropped
    assert rows[3]["has_dup"] == 0 and rows[3]["n_dup_windows"] == 0
    assert rows[4]["n_windows"] == 0 and rows[4]["dup_window_frac"] == 0.0
    assert set(rows) == {1, 2, 3, 4, 5}


def test_exact_substring_intra_doc_repeat_detected(spark):
    # a doc consisting of the same paragraph twice must self-report even
    # when no other doc shares it (count >= 2 is corpus-wide, not cross-doc)
    para = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame([(1, para + " " + para)], ["doc_id", "text"])
    row = exact_substring_dups(docs, window=10).collect()[0]
    assert row["has_dup"] == 1


# ---------------------------------------------------------------------------
# domain_mixture_sample
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def mix_docs(spark):
    # en-heavy corpus: 12 en docs, 3 de, 3 fr, 2 zh (untargeted)
    rows = []
    did = 0
    for lang, n in (("en", 12), ("de", 3), ("fr", 3), ("zh", 2)):
        for _ in range(n):
            rows.append((did, "tok " * 10, lang))
            did += 1
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_domain_mixture_rates(spark, mix_docs):
    out = domain_mixture_sample(mix_docs, {"en": 0.5, "de": 0.3, "fr": 0.2})
    rates = {r["domain"]: r["rate_ppm"] for r in
             out.select("domain", "rate_ppm").distinct().collect()}
    # every doc has 10 tokens: T_en=120, T_de=30, T_fr=30
    # C = min(120/.5, 30/.3, 30/.2) = min(240, 100, 150) = 100 (de binds)
    # rates: en .5*100/120=0.41666, de 1.0, fr 0.2*100/30=0.6666
    assert rates["de"] == 1_000_000
    assert rates["en"] == 416_666
    assert rates["fr"] == 666_666
    # untargeted domain is dropped, not passed through at rate 1
    assert rates["zh"] == 0
    sampled_zh = out.filter("domain = 'zh' and sampled = 1").count()
    assert sampled_zh == 0


def test_domain_mixture_deterministic_and_total(spark, mix_docs):
    t = {"en": 0.5, "de": 0.3, "fr": 0.2}
    a = domain_mixture_sample(mix_docs, t).orderBy("doc_id").collect()
    b = domain_mixture_sample(mix_docs, t).orderBy("doc_id").collect()
    assert a == b
    # every input doc is reported exactly once
    assert len(a) == mix_docs.count()


def test_domain_mixture_missing_target_binds_C_to_zero(spark, mix_docs):
    # a targeted domain the corpus lacks makes the mixture unachievable
    # at ANY size: the no-upsample formula gives C = min(..., 0/s) = 0,
    # so EVERY rate must be 0 — not "ship 100% of what exists"
    out = domain_mixture_sample(mix_docs, {"en": 0.5, "ja": 0.5})
    assert out.filter("sampled = 1").count() == 0
    assert out.count() == mix_docs.count()


def test_domain_mixture_null_domain_reported_not_dropped(spark):
    docs = spark.createDataFrame(
        [(1, "tok " * 10, "en"), (2, "tok " * 10, None)],
        ["doc_id", "text", "lang"],
    )
    rows = {r["doc_id"]: r for r in
            domain_mixture_sample(docs, {"en": 1.0}).collect()}
    # the NULL-domain doc is scored (rate 0, sampled 0), never dropped
    assert rows[2]["rate_ppm"] == 0 and rows[2]["sampled"] == 0
    assert rows[1]["sampled"] == 1


def test_domain_mixture_rejects_bad_targets(spark, mix_docs):
    with pytest.raises(ValueError):
        domain_mixture_sample(mix_docs, {})
    with pytest.raises(ValueError):
        domain_mixture_sample(mix_docs, {"en": 0.0})
    with pytest.raises(ValueError):
        domain_mixture_sample(mix_docs, {"en": -1.0, "de": 2.0})


# ---------------------------------------------------------------------------
# unigram_logprob
# ---------------------------------------------------------------------------


def test_unigram_logprob_values(spark):
    import math

    from airbyte_spark.ops.text_analysis import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c")], ["doc_id", "text"]
    )
    # corpus counts: a=3, b=2, c=1; N=6
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}

    def micro(x):
        return round(math.log(x) * 1e6)

    exp1 = round((((micro(3) * 2 + micro(2)) / 3) - micro(6)) / 1e6, 6)
    exp2 = round((((micro(3) + micro(2) + micro(1)) / 3) - micro(6)) / 1e6, 6)
    assert out[1]["logprob"] == pytest.approx(exp1, abs=1e-9)
    assert out[2]["logprob"] == pytest.approx(exp2, abs=1e-9)
    # doc 1 uses more common tokens, so it must score higher
    assert out[1]["logprob"] > out[2]["logprob"]


def test_unigram_logprob_deterministic_across_partitionings(spark):
    from airbyte_spark.ops.text_analysis import unigram_logprob

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} common common") for i in range(50)],
        ["doc_id", "text"],
    )
    a = unigram_logprob(docs.repartition(1)).orderBy("doc_id").collect()
    b = unigram_logprob(docs.repartition(13)).orderBy("doc_id").collect()
    # the micro-unit integer sums make the score partitioning-independent
    assert a == b


def test_quality_and_repetition_matches_separate_ops(spark, rep_docs):
    """The combined one-projection frame must equal the two standalone
    frames column-for-column (it exists so curate.py avoids a doc_id
    shuffle join between them — not to redefine either score)."""
    from airbyte_spark.ops.text_analysis import (
        quality_and_repetition,
        quality_score,
    )

    both = {r["doc_id"]: r for r in quality_and_repetition(rep_docs).collect()}
    q = {r["doc_id"]: r for r in quality_score(rep_docs).collect()}
    rep = {r["doc_id"]: r for r in repetition_scores(rep_docs).collect()}
    for i in both:
        for c in ("n_tokens", "n_chars", "alpha_ratio", "stop_ratio", "quality"):
            assert both[i][c] == q[i][c]
        for c in ("dup_token_frac", "top_bigram_frac", "top_trigram_frac",
                  "repetitive"):
            assert both[i][c] == rep[i][c]
    # and it stays map-only like its parents
    plan = (
        quality_and_repetition(rep_docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_curate_cli_rejects_degenerate_mixture(spark, tmp_path):
    from airbyte_spark import curate

    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "some text", "en")], ["doc_id", "text", "lang"]
    ).write.parquet(docs_dir)
    base = ["--docs-dir", docs_dir, "--out", str(tmp_path / "o")]
    # '{}' must fail loudly, not silently skip the stage
    with pytest.raises(SystemExit, match="non-empty"):
        curate.main(base + ["--mixture", "{}"])
    # string shares must fail at the CLI, not as a deep TypeError
    with pytest.raises(SystemExit, match="numeric"):
        curate.main(base + ["--mixture", '{"en": "0.5"}'])


# ---------------------------------------------------------------------------
# property tests vs brute-force python models
# ---------------------------------------------------------------------------

from collections import Counter

from hypothesis import given, settings, strategies as st

_WORDS = st.sampled_from(["aa", "bb", "cc", "dd"])
_TEXTS = st.lists(_WORDS, min_size=1, max_size=14).map(" ".join)


@settings(max_examples=10, deadline=None)
@given(texts=st.lists(_TEXTS, min_size=1, max_size=10))
def test_repetition_scores_match_counter_model(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in repetition_scores(docs).collect()}
    for i, t in enumerate(texts):
        toks = t.split()
        n = len(toks)
        assert got[i]["n_tokens"] == n
        assert got[i]["dup_token_frac"] == pytest.approx(
            (n - len(set(toks))) / n, abs=1e-6
        )
        for k, col in ((2, "top_bigram_frac"), (3, "top_trigram_frac")):
            grams = [" ".join(toks[j:j + k]) for j in range(n - k + 1)]
            exp = (max(Counter(grams).values()) / len(grams)) if grams else 0.0
            assert got[i][col] == pytest.approx(exp, abs=1e-6)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["u", "v", "w"]), min_size=1, max_size=9)
        .map(" ".join),
        min_size=1,
        max_size=8,
    ),
    window=st.sampled_from([2, 3]),
)
def test_exact_substring_matches_window_model(spark, texts, window):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in
           exact_substring_dups(docs, window=window).collect()}
    wins: Counter = Counter()
    per_doc: dict[int, list[str]] = {}
    for i, t in enumerate(texts):
        toks = t.split()
        ws = [" ".join(toks[j:j + window])
              for j in range(len(toks) - window + 1)]
        per_doc[i] = ws
        wins.update(ws)
    for i in per_doc:
        dup = sum(1 for w in per_doc[i] if wins[w] >= 2)
        assert got[i]["n_windows"] == len(per_doc[i])
        assert got[i]["n_dup_windows"] == dup
        assert got[i]["has_dup"] == int(dup > 0)
