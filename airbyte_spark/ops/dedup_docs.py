"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash — the standard pretraining-corpus dedup ladder.

Design for 100 TB:
* Exact dedup groups on ``md5(text)`` (16-byte key), never on raw text — the
  shuffle carries hashes, not documents, and map-side partial aggregation
  collapses per-mapper duplicates before the exchange.
* Jaccard runs shingle-inverted-index style (explode distinct shingles,
  equi-join on shingle, count per pair) — the classic "similarity join via
  inverted index"; no cross join anywhere.
* MinHash+LSH replaces the quadratic candidate space with band-bucket
  equi-joins: k=12 signatures, 6 bands of width 2; only pairs sharing a band
  ever meet in a shuffle. This is the only approach that survives 10^9 docs.
* SimHash reduces every document to one int64; candidate pairing is a
  bit_count(xor) over a (optionally band-bucketed) join.
* All hashing is md5-based (see hashing.py) so a SQL oracle can reproduce
  results exactly.

No Python UDFs anywhere — every operator is built-in column expressions, so
the whole path stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import h60

MINHASH_K = 12
MINHASH_BAND_WIDTH = 2
SIMHASH_BITS = 60


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Group identical texts; keep the smallest doc_id as canonical.

    Returns (text_md5, keep_doc_id, dup_cnt) — one row per distinct text.
    """
    return (
        docs.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.count("*").cast("long").alias("dup_cnt"),
        )
    )


def word_shingles(toks: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a *materialized* token-array column.

    Takes the token array (not raw text) so the split runs once per row —
    an expression inside the transform lambda would be re-evaluated per
    sequence element, turning shingling O(tokens) into O(tokens²)."""
    n = F.size(toks) - (k - 1)
    sh = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + off) for off in range(k)]
            ),
        ),
    ).otherwise(
        # <k tokens: one shingle = the whole text (matches the oracle's
        # clamped list slice) — also keeps element_at in-bounds under
        # ANSI mode
        F.array(F.concat_ws(" ", toks))
    )
    return F.array_distinct(sh)


def token_table(docs: DataFrame) -> DataFrame:
    """(doc_id, _toks) — the ONE tokenization every shingle consumer shares
    (a second copy of the split would let exact/LSH dedup silently diverge
    from Jaccard dedup if tokenization ever changes)."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim("text"), r"\s+").alias("_toks"),
    )


def shingle_table(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded inverted-index input."""
    return token_table(docs).select(
        "doc_id", F.explode(word_shingles(F.col("_toks"), k)).alias("sh")
    )


MAX_SHINGLE_DF = 256


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Near-duplicate pairs by word-k-gram Jaccard ≥ threshold.

    Inverted-index similarity join: pairs that share zero shingles never
    materialize. Output (doc_a, doc_b, common, jaccard).

    ``max_shingle_df`` drops shingles whose document frequency exceeds the
    cap BEFORE the self-join (standard stopword-shingle guard): one
    ubiquitous shingle ("one of the") otherwise creates O(df²) join fanout
    on a single hot key — the similarity space becomes "jaccard over
    rare shingles", with both the pair counts AND the per-doc sizes
    computed over the same capped shingle set so the ratio stays
    internally consistent.
    """
    sh = shingle_table(docs, k)
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("sh")
        )
        # left-semi on the same key the pair join shuffles on
        sh = sh.join(rare, "sh", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("common"))
    )
    j = (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn("jaccard", F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6))
    )
    return j.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "common", "jaccard")


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """k MinHash values per doc: sig_j = min over shingles of H(j ':' shingle).

    MAP-ONLY: the per-doc distinct-shingle array is materialized once, then
    each signature is ``array_min`` over a hash-transform of that array —
    scan -> project, ZERO shuffle (the earlier explode -> groupBy shape
    shuffled every shingle occurrence just to re-group rows that were
    already per-doc). The j-salted md5 plays the role of k independent
    hash functions and is reproducible in any engine with md5.

    PRECONDITION (now load-bearing): ``doc_id`` is unique — one row in,
    one signature row out. The earlier groupBy incidentally collapsed
    duplicate ids; a feed that can repeat ids must exact-dedup first
    (duplicate signature rows would double-count shared bands in
    ``minhash_lsh_candidates``).
    """
    sh = token_table(docs).select(
        "doc_id", word_shingles(F.col("_toks")).alias("_sh")
    )

    def _sig(j: int) -> Column:
        # closure factory, NOT a default-arg lambda: pyspark dispatches HOF
        # lambdas on arity, so `lambda s, j=j` would be called as the
        # two-arg (element, index) form with j bound to the index COLUMN
        return F.array_min(
            F.transform(
                F.col("_sh"),
                lambda s: h60(F.concat_ws(":", F.lit(str(j)), s)),
            )
        ).alias(f"s{j}")

    return sh.select("doc_id", *[_sig(j) for j in range(k)])


def minhash_band_table(
    docs: DataFrame, k: int = MINHASH_K, band_width: int = MINHASH_BAND_WIDTH
) -> DataFrame:
    """(doc_id, band_idx, band_key) LSH band entries — the unit the batch
    candidate join (``minhash_lsh_candidates``) operates on. Map-only on top
    of the map-only signatures: one posexplode-free array explode per doc."""
    if k % band_width != 0:
        raise ValueError(
            f"k={k} must be divisible by band_width={band_width}: trailing "
            "signatures would be computed then silently discarded, quietly "
            "lowering effective recall"
        )
    sig = minhash_signatures(docs, k)
    n_bands = k // band_width
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col(f"s{b * band_width + r}") for r in range(band_width)]
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_key"
    )


def minhash_lsh_candidates(
    docs: DataFrame, k: int = MINHASH_K, band_width: int = MINHASH_BAND_WIDTH
) -> DataFrame:
    """LSH banding: docs sharing ≥1 band bucket become candidate pairs.

    Output (doc_a, doc_b, shared_bands). At scale this is the whole point of
    MinHash: the join key is (band_idx, band_key) — a bounded-fanout
    equi-join, never O(n²).
    """
    bt = (
        minhash_band_table(docs, k, band_width)
        # explicit exchange on the join keys BEFORE the self-join: the join
        # shuffles here anyway, and pinning the exchange makes both aliases
        # share one shuffle stage — signatures compute ONCE. Without it the
        # map-only signature pipeline (no exchange of its own since the
        # array_min rewrite) is duplicated into each join side: measured 2x
        # slower at sf0.1 (12.2s vs 6.6s median).
        .repartition("band_idx", "band_key")
    )
    return (
        bt.alias("a")
        .join(
            bt.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("shared_bands"))
    )


def simhash_signatures(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """60-bit SimHash over distinct whitespace tokens.

    bit b of the signature = 1 iff more token-hashes have bit b set than not.
    Expressed as explode(token) × explode(bit) → two hash aggregations —
    shuffles carry (doc_id, bit) longs only, never text.

    FEATURELESS docs (null/empty text — no tokens to hash) carry no
    signature row and are absent from the near-dup candidate set by
    design: signature similarity is undefined without features. Route
    them through ``exact_dedup`` (which groups them as mutual exact
    duplicates by content hash) — the standard split in dedup pipelines.
    """
    # Shape note (measured at sf0.1): this explode(token) × explode(bit)
    # form looks shuffle-heavy but is NOT — groupBy(doc_id, b) partial-
    # aggregates map-side, so each exchange carries ≤ docs×60 longs per
    # mapper and every ±1 vote stays in whole-stage codegen. The two
    # "obvious improvements" both lose: 60 aggregate() HOFs per row are
    # interpreted (12x slower), and 60 sum-columns in one agg blow the
    # codegen method-size limit (3.5x slower).
    tok = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("t"),
    ).withColumn("h", h60(F.col("t")))
    bitrows = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
        "h",
    ).withColumn("v", F.expr("(shiftright(h, b) & 1) * 2 - 1"))
    per_bit = bitrows.groupBy("doc_id", "b").agg(F.sum("v").alias("s"))
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(
                F.lit(0).cast("long")
            )
        )
        .cast("long")
        .alias("simhash")
    )


SIMHASH_BLOCKS = 6
SIMHASH_MAX_HAMMING = 3


def simhash_n_bands(
    max_hamming: int = SIMHASH_MAX_HAMMING, n_blocks: int = SIMHASH_BLOCKS
) -> int:
    """Number of block-permutation band tables — C(n_blocks, n_blocks -
    max_hamming); also a mutable index's retraction fanout per doc."""
    from math import comb

    return comb(n_blocks, n_blocks - max_hamming)


def simhash_bands_from_sigs(
    sig: DataFrame,
    bits: int = SIMHASH_BITS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    n_blocks: int = SIMHASH_BLOCKS,
) -> DataFrame:
    """Block-permutation band entries (Manku-Jain-Sarma, WWW'07 §3) from a
    (doc_id, simhash) frame: the ``bits``-bit signature splits into
    ``n_blocks`` equal blocks; band table t is one of the
    C(n_blocks, n_blocks - max_hamming) ways to choose
    ``n_blocks - max_hamming`` blocks, keyed on their CONCATENATION.

    Recall is exact: a pair within hamming ≤ max_hamming differs in at
    most max_hamming blocks, so some chosen block set matches bit-for-bit
    (pigeonhole over blocks). The point versus a plain
    one-block-per-band slicing is the KEY WIDTH: every join key here
    carries (n_blocks - max_hamming) · bits/n_blocks signature bits —
    30 with the defaults (C(6,3) = 20 tables of 3×10-bit keys) — so
    random-collision bucket occupancy is ~n/2^30 per table instead of the
    ~n/2^15 of 15-bit slices. At 10^8 docs that is the difference between
    a bounded equi-join and ~3×10^12 spurious candidate pairs per band;
    the key cardinality grows with the corpus up to 2^30 per table
    instead of saturating at 32k distinct values.

    Exposed separately from ``simhash_band_table`` so property tests can
    feed adversarial synthetic signatures. All entries of ONE index must
    use the same (bits, max_hamming, n_blocks) triple — band_idx
    enumerates the block combinations, so the construction is part of the
    key space.
    """
    if not 0 < max_hamming < n_blocks:
        # a bare assert would vanish under python -O and silently break
        # the documented exact-recall contract
        raise ValueError(
            f"pigeonhole recall needs 0 < max_hamming ({max_hamming}) < "
            f"n_blocks ({n_blocks}): a pair may differ in every block "
            "otherwise"
        )
    if bits % n_blocks:
        raise ValueError(f"n_blocks ({n_blocks}) must divide bits ({bits})")
    from itertools import combinations

    bw = bits // n_blocks
    mask = (1 << bw) - 1
    combos = list(combinations(range(n_blocks), n_blocks - max_hamming))
    bands = F.array(
        *[
            F.struct(
                F.lit(t).alias("band_idx"),
                F.expr(
                    " + ".join(
                        f"shiftleft(shiftright(simhash, {b * bw}) & {mask},"
                        f" {p * bw})"
                        for p, b in enumerate(combo)
                    )
                ).cast("long").alias("band_val"),
            )
            for t, combo in enumerate(combos)
        ]
    )
    return sig.select("doc_id", "simhash", F.explode(bands).alias("band")).select(
        "doc_id", "simhash", "band.band_idx", "band.band_val"
    )


def simhash_band_table(
    docs: DataFrame,
    bits: int = SIMHASH_BITS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    n_blocks: int = SIMHASH_BLOCKS,
) -> DataFrame:
    """(doc_id, simhash, band_idx, band_val) block-permutation band
    entries — the unit the batch candidate join (``simhash_banded_pairs``)
    operates on. The full simhash rides along because the hamming filter
    needs both pair members' signatures at join time."""
    return simhash_bands_from_sigs(
        simhash_signatures(docs, bits), bits, max_hamming, n_blocks
    )


def simhash_banded_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bits: int = SIMHASH_BITS,
    n_blocks: int = SIMHASH_BLOCKS,
) -> DataFrame:
    """Near-duplicate pairs with hamming(simhash) ≤ max_hamming — the
    SCALE path (the all-pairs ``simhash_pairs`` below is the small-corpus
    verifier only).

    Block-permutation banding (``simhash_bands_from_sigs``): candidates
    come from an equi-join on (band_idx, band_val) over C(n_blocks,
    n_blocks - max_hamming) tables of wide concatenated-block keys —
    exact recall by pigeonhole, random-collision fanout ~n²/2^30 per
    table with the defaults, never an all-pairs theta join. Shuffles
    carry (doc_id, simhash, band) longs only. Output
    (doc_a, doc_b, hamming)."""
    bt = simhash_band_table(docs, bits, max_hamming, n_blocks)
    ham = F.expr("bit_count(a.simhash ^ b.simhash)").cast("long")
    return (
        bt.alias("a")
        .join(
            bt.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        # a pair can share several bands — one candidate row each
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_BITS) -> DataFrame:
    """All-pairs hamming join — SMALL-CORPUS VERIFIER ONLY (O(n²) rows).
    Production/scale callers use ``simhash_banded_pairs``, whose
    band-bucket equi-join returns the identical pair set for
    max_hamming < n_bands; tests assert that equivalence.
    """
    sig = simhash_signatures(docs, bits)
    a, b = sig.alias("a"), sig.alias("b")
    ham = F.expr("bit_count(a.simhash ^ b.simhash)").cast("long")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )

# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better") — Spark-first reduction: instead of a
# distributed suffix array, hash every W-token window and find windows
# that occur more than once anywhere in the corpus. Any duplicated
# substring of ≥ W tokens contains at least one duplicated window, so
# per-document duplicated-window fractions are a faithful detector at
# window granularity.
# ---------------------------------------------------------------------------

EXACT_SUBSTRING_WINDOW = 10


def window_hash_table(docs: DataFrame, window: int = EXACT_SUBSTRING_WINDOW) -> DataFrame:
    """(doc_id, pos, wh): 60-bit hash of every overlapping `window`-token
    span, WITH positions and multiplicity (unlike dedup shingling — a doc
    repeating its own paragraph must self-report). Docs shorter than the
    window contribute zero rows: no substring of length W exists in them."""
    t = token_table(docs)
    n = F.size("_toks") - (window - 1)
    spans = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: h60(
                F.concat_ws(" ", *[F.element_at(F.col("_toks"), i + off) for off in range(window)])
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return t.select(
        "doc_id", F.posexplode(spans).alias("pos", "wh")
    )


def exact_substring_dups(
    docs: DataFrame, window: int = EXACT_SUBSTRING_WINDOW
) -> DataFrame:
    """Per-document exact-substring duplication report:
    (doc_id, n_windows, n_dup_windows, dup_window_frac, has_dup).

    A window is duplicated when its hash occurs ≥ 2 times corpus-wide
    (another doc OR another position of the same doc). The plan is the
    inverted-index shape that survives 100 TB:

    * window extraction is map-only (one tokenize, per-row transform);
    * the occurrence count is ONE hash aggregate on a 60-bit key —
      map-side partial combine collapses within-partition repeats, and a
      boilerplate window repeated 10^9× is one hot KEY in an agg (cheap),
      never a join fanout;
    * dup counts come back per doc via a second hash aggregate keyed on
      doc_id after an equi-join position→count in which each position row
      matches exactly one count row — total shuffle volume is O(total
      tokens) long pairs, linear in corpus size.

    Reference has no analog (training-data curation is outside its
    scope); semantics follow the published exact-substring dedup, reduced
    to window granularity.
    """
    wt = window_hash_table(docs, window)
    counts = wt.groupBy("wh").agg(F.count("*").alias("_n"))
    flagged = wt.join(counts, "wh").select(
        "doc_id", (F.col("_n") >= 2).cast("long").alias("_dup")
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.sum("_dup").cast("long").alias("n_dup_windows"),
    )
    # left join back to the full doc list so short docs report 0, not
    # vanish (a curation pipeline must score every document)
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    return ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.round(
            F.coalesce(F.try_divide(F.col("n_dup_windows"), F.col("n_windows")), F.lit(0.0)),
            6,
        ).alias("dup_window_frac"),
        (F.coalesce("n_dup_windows", F.lit(0)) > 0).cast("int").alias("has_dup"),
    )
