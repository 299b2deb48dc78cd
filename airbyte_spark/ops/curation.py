"""Corpus-curation operators a large-scale training-data pipeline needs on
top of dedup: benchmark decontamination, PII redaction, and
deterministic dataset splits/samples.

Reference parity note: these go BEYOND phiture/airbyte's operator set —
they are the curation stages a 100 TB pretraining-data pipeline runs after
ingest (the brief's "training-data pipeline" mandate), built with the same
cross-engine determinism contract as ops/dedup_docs.py: every hash routes
through md5 (ops/hashing.h60) so the DuckDB oracle reproduces results
bit-for-bit.

Scale shapes (all verified on `.explain`):

* ``decontaminate`` — the benchmark side (held-out eval sets) is SMALL by
  construction (10^3-10^6 docs vs 10^9+ corpus docs), so its distinct
  n-gram set broadcasts and the corpus side stays a map-only
  explode -> broadcast-hash-join; the only shuffle is the final per-doc
  hit count (partial count, map-side combine). Never an all-pairs join.
* ``redact_pii`` — pure ``regexp_replace``/``regexp_count`` column
  expressions inside whole-stage codegen: scan -> project, zero shuffle,
  zero Python.
* ``stratified_split`` — one md5 per row, zero shuffle: split assignment
  is a pure function of the id, so it is stable under reruns, appends,
  and repartitioning (no global sort or sampling pass over 100 TB).
* ``sample_per_stratum`` — per-stratum deterministic top-k by hash order:
  one shuffle on the stratum key; the window sort is bounded per stratum
  and the hash order makes the sample uniform without a random() that an
  oracle could not replay.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..job import EMAIL_RE, PHONE_RE, redact_text
from .hashing import h60
from .text_analysis import tokens



def ngram_hashes(toks: Column, n: int) -> Column:
    """Distinct 60-bit hashes of the word n-grams of a MATERIALIZED
    token-array column.

    Takes the token array, not raw text: an unevaluated ``split`` embedded
    here would be re-run inside the transform lambda once PER GRAM
    (higher-order-function lambdas are interpreted, no common-subexpression
    reuse), turning shingling O(tokens) into O(tokens²) — callers
    materialize the array in a prior select (same contract as
    ``dedup_docs.word_shingles``). Grams of docs shorter than ``n`` tokens
    are empty (not a padded partial gram), matching the oracle's
    ``range(1, len-n+2)``.
    """
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: h60(F.array_join(F.slice(toks, i, n), " ")),
    )
    # sequence(1, 0) yields [1, 0] descending — guard empty docs explicitly
    return F.when(count > 0, F.array_distinct(grams)).otherwise(
        F.array().cast("array<long>")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, how many of its distinct
    word n-grams appear anywhere in the benchmark set.

    The standard pretraining hygiene step (GPT-3 appendix C / PaLM-style
    13-gram overlap, here parameterized): a doc with ``n_hits > 0`` leaks
    eval data and is dropped or flagged before training. Returns EVERY
    corpus doc (`n_hits = 0` for clean ones) so the caller filters rather
    than joins back.

    ONE corpus scan, ONE shuffle: grams ``explode_outer`` (a zero-gram doc
    keeps a null-gram row so it stays in the output), left-join the
    broadcast benchmark set, then count matches per doc — the per-doc
    partial count collapses each doc's gram rows map-side (they come from
    one input row, so they are mapper-local), leaving the exchange at one
    row per doc per mapper.
    """

    def _grams(df: DataFrame, *cols: Column) -> DataFrame:
        toked = df.select(*cols, tokens(F.col(text_col)).alias("_toks"))
        return toked.select(
            *[c for c in toked.columns if c != "_toks"],
            F.explode_outer(ngram_hashes(F.col("_toks"), n)).alias("_g"),
        )

    bench_grams = (
        _grams(benchmark).select("_g").where(F.col("_g").isNotNull()).distinct()
    )
    corpus_grams = _grams(corpus, F.col(id_col).cast("long").alias(id_col))
    return (
        corpus_grams.join(
            F.broadcast(bench_grams.withColumn("_m", F.lit(1))), "_g", "left"
        )
        .groupBy(id_col)
        .agg(F.count("_m").cast("long").alias("n_hits"))
        .select(
            id_col,
            "n_hits",
            (F.col("n_hits") > 0).cast("int").alias("contaminated"),
        )
    )


def redact_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Redact emails/phone numbers to typed placeholder tokens and count
    what was redacted — scan -> project, no shuffle, no Python.

    The replace chain itself is ``job.redact_text`` (the ingest-time
    ``--redact-pii`` preset); this op adds the per-pattern counts.
    """
    emails = F.regexp_count(F.col(text_col), F.lit(EMAIL_RE)).cast("long")
    after_email = F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>")
    phones = F.regexp_count(after_email, F.lit(PHONE_RE)).cast("long")
    return docs.select(
        F.col(id_col).cast("long").alias(id_col),
        emails.alias("n_emails"),
        phones.alias("n_phones"),
        redact_text(F.col(text_col)).alias("redacted"),
    )


def split_bucket(id_col: Column, salt: str = "split") -> Column:
    """Deterministic 0..999 bucket for dataset splits: md5 of the id — a
    pure per-row function, so assignment survives reruns/appends/shuffles
    (the property random() lacks) and any engine can reproduce it."""
    return (
        h60(F.concat(id_col.cast("string"), F.lit(":" + salt))) % 1000
    ).cast("long")


def stratified_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    train_upto: int = 800,
    val_upto: int = 900,
    salt: str = "split",
) -> DataFrame:
    """Assign train/val/test by hashed-id bucket, reported per stratum.

    The hash is uniform per id, so each stratum independently receives
    ~train_upto/1000 of its rows in train — stratification without a
    per-stratum pass (no count, no sort, no shuffle at 100 TB).
    """
    b = split_bucket(F.col(id_col), salt)
    return docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(stratum_col).alias("stratum"),
        b.alias("bucket"),
        F.when(b < train_upto, F.lit("train"))
        .when(b < val_upto, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
) -> DataFrame:
    """Assign documents to fixed-token-budget training packs (sequence
    packing / example batching for pretraining).

    Deterministic two-level scheme built for 100 TB:

    1. shard = md5-bucket of the id (``n_shards`` of them) — packing never
       needs a GLOBAL order, so the only shuffle is on the shard key and
       each shard packs independently (set ``n_shards`` ~ cluster
       parallelism).
    2. within a shard, docs are ordered by hashed id (uniform, replayable)
       and packed by running token count:
       ``pack_local = floor((cumsum - n_tokens) / budget)`` — i.e. a doc
       joins the pack where its token interval STARTS. Every pack's token
       sum is < budget + max_doc_tokens (the standard streaming-packing
       bound); a doc longer than the budget overflows its own pack rather
       than being dropped or split, and callers truncate downstream. Pack
       ids after an oversize doc skip the budget windows it spans, so ids
       within a shard are monotone but not necessarily contiguous.

    Token counts use the same BPE-ish regex as ``text_analysis.token_count``
    so the packing is reproducible in any engine with RE2. Output:
    (doc_id, shard, pack_id, n_tokens) with
    ``pack_id = pack_local * n_shards + shard`` — interleaved numbering is
    collision-free for ANY pack count (a fixed per-shard offset would
    alias once a shard's token mass outgrew it), and
    ``pack_id % n_shards`` recovers the shard.
    """
    from .text_analysis import BPE_REGEX

    if budget < 1 or n_shards < 1:
        # budget 0 would null out every pack id via try-less division —
        # a silently corrupt packing rather than an error
        raise ValueError(
            f"pack_sequences needs budget >= 1 and n_shards >= 1 "
            f"(got budget={budget}, n_shards={n_shards})"
        )
    hcol = h60(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    base = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        (hcol % n_shards).alias("shard"),
        hcol.alias("_h"),
        F.regexp_count(F.col(text_col), F.lit(BPE_REGEX))
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    pack_local = F.floor((cum - F.col("n_tokens")) / budget).cast("long")
    return base.select(
        id_col,
        "shard",
        (pack_local * n_shards + F.col("shard")).alias("pack_id"),
        "n_tokens",
    )


def sample_per_stratum(
    docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    salt: str = "sample",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Deterministic uniform sample of ``k`` docs per stratum: rank by
    hashed id inside each stratum, keep rank <= k.

    Hash order is uniform AND replayable — the distributed stand-in for
    per-group reservoir sampling (same marginal distribution, none of the
    nondeterminism). One shuffle on the stratum key — and the
    ``rank <= k`` filter triggers Catalyst's WindowGroupLimit pushdown
    (plan-audited: a *Partial* WindowGroupLimit runs map-side), so each
    mapper ships at most k rows per stratum and a hot stratum never
    funnels its full row set through one reducer.
    """
    hcol = h60(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy("stratum").orderBy(hcol.asc(), F.col(id_col).asc())
    return (
        docs.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(stratum_col).alias("stratum"),
            *[F.col(c) for c in carry_cols],
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )

def domain_mixture_sample(
    docs: DataFrame,
    targets: dict[str, float],
    id_col: str = "doc_id",
    domain_col: str = "lang",
    text_col: str = "text",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic downsampling to a target domain TOKEN mixture
    (the "data mixing" step of a pretraining pipeline: e.g. 50% en,
    30% de, 20% fr by tokens, from a corpus with whatever skew it has).

    Never upsamples: the achievable corpus is scaled by the binding
    domain — C = min_d(T_d / s_d) tokens total, where T_d is domain d's
    token count and s_d its normalized target share; each domain then
    keeps rate_d = s_d·C / T_d of its docs (≤ 1 by construction, = 1 for
    the binding domain). Selection is per-row hash sampling
    (md5(id:salt) in parts-per-million), so membership is uniform within
    a domain, replayable across reruns/appends, and engine-portable —
    the same properties ``split_bucket`` documents. Domains without a
    target share are dropped (rate 0), the standard "not in the mixture"
    posture.

    Plan shape at 100 TB: one hash aggregate to the ≤|domains| totals
    row set, the C reduction over those few rows (driverless: a
    cross-joined 1-row agg), then ONE broadcast join back — the corpus
    side is a single scan, zero corpus shuffles. Expected sampled token
    mass per domain is s_d·C exactly (hash uniformity); exact-count
    sampling would need a per-domain global sort — the wrong trade at
    scale. Output: (doc_id, domain, n_tokens, rate_ppm, sampled).
    """
    from .text_analysis import BPE_REGEX

    if not targets:
        raise ValueError("domain_mixture_sample needs at least one target share")
    bad = {d: s for d, s in targets.items() if s <= 0}
    if bad:
        raise ValueError(f"target shares must be > 0, got {bad}")
    tot = float(sum(targets.values()))
    share = F.create_map(
        *[x for d, s in sorted(targets.items()) for x in (F.lit(d), F.lit(s / tot))]
    )
    base = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(domain_col).alias("domain"),
        F.regexp_count(F.col(text_col), F.lit(BPE_REGEX)).cast("long").alias("n_tokens"),
    )
    # the totals frame is the UNION of corpus domains and targeted
    # domains: a targeted domain the corpus lacks entirely (or whose
    # texts are all null) must contribute T_d = 0 and bind C to 0 — only
    # the min over EVERY targeted domain honors the no-upsample formula
    # (otherwise an all-en corpus under a 50/50 en/fr target would ship
    # 100% en and report the mixture satisfied)
    target_rows = docs.sparkSession.createDataFrame(
        [(d,) for d in sorted(targets)], ["domain"]
    )
    totals = (
        base.groupBy("domain")
        .agg(F.sum("n_tokens").alias("_Tsum"))
        .join(target_rows, "domain", "full_outer")
        .select(
            "domain",
            F.coalesce("_Tsum", F.lit(0)).cast("long").alias("_T"),
            F.element_at(share, F.col("domain")).alias("_s"),
        )
    )
    # C = min over TARGETED domains of T_d/s_d, via an unpartitioned
    # window over the ≤|domains|-row totals frame (a handful of rows on
    # one reducer — bounded by construction, never corpus-sized)
    c_expr = F.min(
        F.when(F.col("_s").isNotNull(), F.col("_T") / F.col("_s"))
    ).over(Window.partitionBy())
    # guarded by isNotNull, NOT coalesce-around-least: least() IGNORES
    # nulls (returns the smallest non-null), so least(null, 1e6) would
    # hand every untargeted domain rate 1.0 instead of dropping it
    rates = totals.withColumn("_C", c_expr).select(
        "domain",
        F.when(
            # _T > 0 also guards floor(s·C/0 = Inf), which overflows the
            # long cast under ANSI mode; a 0-token targeted domain binds
            # C to 0 anyway, so every rate is legitimately 0 then
            F.col("_s").isNotNull() & (F.col("_T") > 0),
            F.least(
                F.floor(F.col("_s") * F.col("_C") / F.col("_T") * 1_000_000),
                F.lit(1_000_000),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rate_ppm"),
    )
    h = h60(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))) % 1_000_000
    # LEFT join + coalesce: a NULL-domain doc never equi-joins, but a
    # curation pipeline must SCORE every document (sampled = 0), not
    # silently drop it from the report
    return base.join(F.broadcast(rates), "domain", "left").select(
        id_col,
        "domain",
        "n_tokens",
        F.coalesce("rate_ppm", F.lit(0)).cast("long").alias("rate_ppm"),
        (h < F.coalesce("rate_ppm", F.lit(0))).cast("int").alias("sampled"),
    )


# ---------------------------------------------------------------------------
# DSIR importance sampling (Xie et al. 2023, "Data Selection via
# Importance Resampling")
# ---------------------------------------------------------------------------

#: hashed-bigram feature space — small by design: the two distributions
#: are |buckets|-row aggregates that broadcast everywhere
DSIR_BUCKETS = 256


def _bigram_buckets(toks: Column, n_buckets: int) -> Column:
    """Hashed-bigram bucket ids WITH multiplicity (DSIR's bag-of-ngrams
    feature map), as an array<int> over a MATERIALIZED token array (same
    O(tokens²)-lambda hazard as ``ngram_hashes``)."""
    count = F.greatest(F.size(toks) - 1, F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.pmod(
            h60(F.array_join(F.slice(toks, i, 2), " ")), F.lit(n_buckets)
        ).cast("int"),
    )
    # sequence(1, 0) yields [1, 0] descending — guard 1-token docs
    return F.when(count > 0, grams).otherwise(F.array().cast("array<int>"))


def _q6ln(c: Column) -> Column:
    """ln quantized to bigint micro-units — the order-free-summation
    contract shared with ``text_analysis.unigram_logprob`` (Spark's
    Math.log and DuckDB's libm ln agree bit-for-bit on this grid over
    the verified integer domain 1..2×10^6)."""
    return F.round(F.log(c) * 1e6).cast("long")


def dsir_scores(
    corpus: DataFrame,
    target: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-document importance log-weights for selecting corpus docs that
    look like the (small) target set, under hashed-bigram unigram models
    of both (the DSIR reduction):

        logw(d) = Σ_{g ∈ bigrams(d)} [ ln p̂_target(b(g)) − ln p̂_corpus(b(g)) ]

    with add-one smoothing on both |buckets|-dim distributions.

    Determinism: every ln is quantized to bigint micro-units BEFORE any
    per-doc sum (see ``_q6ln``), so the score is an exact integer sum —
    independent of partitioning and row order, reproducible by the DuckDB
    oracle. The totals' ln lands once per doc via integer multiply:
    logw_micro = Σ w_rel(b) − n_bigrams·(q6ln T − q6ln C).

    Plan shape at 100 TB: two explode→256-key hash aggregates (map-side
    combine collapses everything before the shuffle), the 256-row weight
    table broadcast onto the corpus occurrences, one per-doc aggregate —
    all linear in corpus tokens, no joins that can fan out. The target
    side is small by DSIR's construction (it is the quality/benchmark
    sample) but nothing here requires it.

    Returns (doc_id, n_bigrams, logw_micro, avg_logw, selected) where
    ``selected`` = avg bigram log-ratio > 0 (more target-like than not);
    resampling at a chosen rate orders by ``logw_micro`` or thresholds
    ``avg_logw``. Corpus docs with < 2 tokens score 0 with n_bigrams=0
    (scored, never dropped — same contract as ``domain_mixture_sample``).
    """

    def occ(df: DataFrame) -> DataFrame:
        toked = df.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            tokens(F.col("text")).alias("_toks"),
        )
        return toked.select(
            "doc_id",
            F.explode(_bigram_buckets(F.col("_toks"), n_buckets)).alias("b"),
        )

    c_occ, t_occ = occ(corpus), occ(target)
    spark = corpus.sparkSession
    buckets = spark.range(n_buckets).select(F.col("id").cast("int").alias("b"))
    t_cnt = t_occ.groupBy("b").agg(F.count(F.lit(1)).alias("_tc"))
    c_cnt = c_occ.groupBy("b").agg(F.count(F.lit(1)).alias("_cc"))
    dist = (
        buckets.join(t_cnt, "b", "left")
        .join(c_cnt, "b", "left")
        .select(
            "b",
            (F.coalesce("_tc", F.lit(0)) + 1).alias("_tca"),
            (F.coalesce("_cc", F.lit(0)) + 1).alias("_cca"),
        )
    )
    w = dist.select("b", (_q6ln(F.col("_tca")) - _q6ln(F.col("_cca"))).alias("_w_rel"))
    tots = dist.agg(
        _q6ln(F.sum("_tca")).alias("_lnT"), _q6ln(F.sum("_cca")).alias("_lnC")
    )
    per_doc = (
        c_occ.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("_w_rel").cast("long").alias("_sum_w"),
        )
    )
    scored = (
        per_doc.withColumn("_k", F.lit(1))
        .join(F.broadcast(tots.withColumn("_k", F.lit(1))), "_k")
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.col("_sum_w")
                - F.col("n_bigrams") * (F.col("_lnT") - F.col("_lnC"))
            ).alias("logw_micro"),
        )
    )
    # LEFT join back: bigram-less docs are scored 0, not dropped
    return (
        corpus.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("logw_micro", F.lit(0)).cast("long").alias("logw_micro"),
            F.round(
                F.coalesce(
                    F.try_divide(F.col("logw_micro"), F.col("n_bigrams")),
                    F.lit(0.0),
                )
                / 1e6,
                6,
            ).alias("avg_logw"),
            (F.coalesce("logw_micro", F.lit(0)) > 0).cast("int").alias("selected"),
        )
    )
