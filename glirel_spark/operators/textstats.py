"""Text analysis for training-data pipelines: quality scoring, token
stats, language-ID heuristic, document fingerprinting.

Quality metrics are pure built-in column expressions (JVM codegen'd,
no UDF): at 100 TB this stage is scan-bound, exactly as it should be.
The fingerprint is in corpus_dedup.fingerprint (shared with dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from glirel_spark import config
from glirel_spark.operators import fixpoint


def doc_quality(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars, n_tokens, n_distinct, stop_ratio, mean_token_len,
    distinct_ratio, quality_score) — all exactly-rounded IEEE arithmetic
    on integer counts, so the oracle matches bit-for-bit.
    """
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(config.STOPWORDS))).cast("long")
    n_chars = F.length("text").cast("long")
    stop_ratio = n_stop.cast("double") / n_tokens
    distinct_ratio = n_distinct.cast("double") / n_tokens
    mean_token_len = (n_chars - (n_tokens - 1)).cast("double") / n_tokens
    # simple composite: favor mid-length docs with lexical diversity and
    # a sane stopword rate (the usual C4/Gopher-style heuristics shape)
    quality = distinct_ratio * F.least(n_tokens.cast("double") / 64.0, F.lit(1.0))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        stop_ratio.alias("stop_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        mean_token_len.alias("mean_token_len"),
        quality.alias("quality_score"),
    )


def doc_gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style quality rule panel (Rae et al. 2021, table A1 shape):
    per-document booleans for each rule plus the conjunction, with the
    underlying counts exposed so downstream sweeps can re-threshold
    without a rescan.

    Rules (all INTEGER arithmetic — cross-multiplied instead of ratios,
    so the panel is bit-exact and fully JVM-codegen'd; scan-bound at
    100 TB like the rest of this module):
      r_word_count   GOPHER_MIN_WORDS <= n_words <= GOPHER_MAX_WORDS
      r_mean_len     3 <= mean word length <= 10  (3n <= chars <= 10n)
      r_alpha        >=80% of words contain an alphabetic character
      r_stopwords    >=2 distinct GOPHER_STOPWORDS present
      r_repetition   most frequent word <=20% of all words (the
                     top-n-gram duplicate-fraction family; unigram form)

    ``sum_word_chars = n_chars - (n_words - 1)`` relies on the corpus
    being single-space tokenized, the same contract doc_quality uses
    for mean_token_len.
    """
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks).cast("long")
    sum_chars = (F.length("text").cast("long") - (n_words - F.lit(1)))
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))
    ).cast("long")
    n_stop_kinds = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in config.GOPHER_STOPWORDS]),
        )
    ).cast("long")
    # row-local O(distinct * n): fine for document-sized arrays, and it
    # keeps the rule a pure column expression (no per-doc shuffle).
    top_word_n = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda w: F.size(F.filter(toks, lambda t: t == w)),
        )
    ).cast("long")
    r_word_count = (n_words >= config.GOPHER_MIN_WORDS) & (
        n_words <= config.GOPHER_MAX_WORDS
    )
    r_mean_len = (F.lit(3) * n_words <= sum_chars) & (
        sum_chars <= F.lit(10) * n_words
    )
    r_alpha = F.lit(5) * n_alpha >= F.lit(4) * n_words
    r_stopwords = n_stop_kinds >= 2
    r_repetition = F.lit(5) * top_word_n <= n_words
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        n_words.alias("n_words"),
        sum_chars.alias("sum_word_chars"),
        n_alpha.alias("n_alpha_words"),
        n_stop_kinds.alias("n_stop_kinds"),
        top_word_n.alias("top_word_n"),
        r_word_count.alias("r_word_count"),
        r_mean_len.alias("r_mean_len"),
        r_alpha.alias("r_alpha"),
        r_stopwords.alias("r_stopwords"),
        r_repetition.alias("r_repetition"),
        (
            r_word_count & r_mean_len & r_alpha & r_stopwords & r_repetition
        ).alias("pass_gopher"),
    )


def doc_surprisal(docs: DataFrame) -> DataFrame:
    """Unigram LM quality proxy (the CCNet / Wenzek et al. 2020
    perplexity-bucket idea, reduced to an exactly-computable form): a
    document whose tokens are corpus-rare carries high average
    surprisal; boilerplate and repeated junk score low.

    Per token with corpus count ``cnt`` out of ``total`` corpus tokens,
    integer surprisal = bitlen(total) - bitlen(cnt), i.e. log2(total /
    cnt) within 1 bit — ALL-INTEGER (``length(bin(x))``, identical in
    Spark and DuckDB), so per-doc sums are order-independent and the
    oracle matches bit-for-bit; ``mean_surprisal_bits`` is the single
    exactly-rounded division at the end.

    Scale shape: one token explode -> count shuffle builds the unigram
    table (at web scale this is the "train the LM" pass, written once
    and reused); the corpus total rides along as a single-row broadcast
    (cross-join of an agg row, no driver collect); the join back to the
    token stream is a plain shuffle join on token — AQE-splittable when
    a stop-word key is hot — followed by the per-doc re-agg on doc_id.
    """
    tok = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    counts = tok.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))  # 1 row -> broadcast
    bits = F.length(F.bin(F.col("total"))) - F.length(F.bin(F.col("cnt")))
    per_tok = (
        tok.join(counts, "token")
        .join(F.broadcast(total))
        .select("doc_id", bits.cast("long").alias("bits"))
    )
    return per_tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("bits").alias("sum_surprisal_bits"),
        (
            F.sum("bits").cast("double")
            / F.count("*").cast("double")
        ).alias("mean_surprisal_bits"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish subword estimate.

    bpe_estimate: words of length L cost ceil(L / 4) subword units — the
    standard chars/4 rule of thumb, computed exactly so it is
    oracle-checkable.
    """
    toks = F.split(F.col("text"), " ")
    ws = F.size(toks).cast("long")
    bpe = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)).cast("long"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
    )


# --- language ID ------------------------------------------------------------
# Tiny character-bigram profiles (hand-built, deterministic). The real
# corpus carries a `lang` column; this heuristic exists as the operator a
# production pipeline would run on raw text. Weights are integers (x10)
# so the whole scorer is native column arithmetic — integer counts and
# sums, ONE exactly-rounded IEEE division at the end — JVM-codegen'd
# (scan-bound at 100 TB, no Python) and bit-identical in the DuckDB
# oracle (oracle_corpus.q_lang_id).

LANG_PROFILES: dict[str, dict[str, int]] = {
    "en": {"th": 30, "he": 25, "in": 20, "er": 20, "an": 18, " t": 15},
    "de": {"en": 25, "er": 25, "ch": 22, "de": 20, "ei": 18, "sc": 15},
    "fr": {"es": 22, "le": 22, "de": 20, "en": 18, "re": 16, "qu": 15},
    "es": {"de": 22, "en": 20, "la": 20, "el": 18, "os": 18, "ar": 15},
}


# --- deterministic stratified sampling ---------------------------------------
# The standard training-data pipeline op after dedup/quality/lang-id:
# downsample over-represented strata (languages, sources) with a
# DETERMINISTIC keep decision — a pure function of (doc_id, stratum) —
# so reruns, resumed checkpoints, and the DuckDB oracle all select the
# same rows. At 100 TB this is a scan + filter: no shuffle, no state,
# no RNG (Bernoulli sampling with rand() is neither reproducible across
# retries nor oracle-checkable).

SAMPLE_RATES_BPS: dict[str, int] = {
    "en": 5000,   # basis points of 10_000: keep ~50% of English
    "de": 2500,
    "fr": 2500,
    "es": 1000,
}
SAMPLE_DEFAULT_BPS = 500
_SAMPLE_SALT = "sample:v1:"


def _sample_hash(doc_id, lang):
    """Polynomial char hash of 'sample:v1:<doc_id>:<lang>' mod HASH_P —
    the same arithmetic family as corpus_dedup token ids, replayed
    exactly by the oracle (oracle_corpus.q_corpus_sample)."""
    key = F.concat(F.lit(_SAMPLE_SALT), F.col(doc_id).cast("string"),
                   F.lit(":"), F.col(lang))
    return F.aggregate(
        F.split(key, ""),
        F.lit(0).cast("long"),
        lambda a, c: (a * config.SHINGLE_BASE + F.ascii(c)) % config.HASH_P,
    )


def stratified_sample(docs: DataFrame,
                      rates_bps: dict[str, int] | None = None,
                      default_bps: int = SAMPLE_DEFAULT_BPS) -> DataFrame:
    """(doc_id, lang, bucket, rate_bps) for the KEPT rows: keep a doc iff
    hash(doc_id, lang) % 10000 < rate_bps[lang]. Per-stratum rates are a
    broadcast-free CASE expression (the rate table is a literal map)."""
    if rates_bps is None:
        rates_bps = SAMPLE_RATES_BPS
    rate = F.lit(default_bps)
    for lg, bps in sorted(rates_bps.items()):
        rate = F.when(F.col("lang") == lg, F.lit(bps)).otherwise(rate)
    bucket = (_sample_hash("doc_id", "lang") % F.lit(10_000)).cast("int")
    return (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "lang",
            bucket.alias("bucket"),
            rate.cast("int").alias("rate_bps"),
        )
        .filter(F.col("bucket") < F.col("rate_bps"))
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred, lang_score): argmax over per-language weighted
    bigram counts, normalized by the document bigram count. Ties go to
    the alphabetically-first language; all-zero scores -> 'und'."""
    from glirel_spark.functions.barrier import materialized

    text = F.col("text")
    langs = sorted(LANG_PROFILES)
    n_bigrams = F.greatest(F.length(text) - 1, F.lit(1)).cast("long")
    n_chars = F.length(text).cast("long")

    def score_int(lang: str):
        # sum_bg w * count(bg). count is the non-overlapping occurrence
        # count via replace-and-measure, the same greedy left-to-right
        # count as str.count / DuckDB replace(): len(text) minus len(text
        # without bg) is exactly 2 * count. The halving is hoisted out of
        # the sum (the weighted sum of the differences is even and
        # non-negative, so >> 1 is exact): one shift per language instead
        # of a double division and checked cast per bigram keeps the
        # generated method small (see below).
        prof = LANG_PROFILES[lang]
        kept = F.lit(0).cast("long")
        for bg, w in prof.items():
            kept = kept + F.lit(w) * F.length(F.replace(text, F.lit(bg), F.lit("")))
        return F.shiftright(F.lit(sum(prof.values())) * n_chars - kept, 1)

    # array_max over (score, rev_alpha_rank, lang) structs: max score wins,
    # ties resolve to the alphabetically-first language (max rev rank).
    entries = F.array(*[
        F.struct(
            score_int(lang).alias("s"),
            F.lit(len(langs) - 1 - i).alias("r"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ])
    # computed once per row (barrier): pred and score read ``best`` at
    # four places, and the projection's method must stay under
    # HotSpot's 8,000-byte JIT limit (functions/barrier.py)
    best = F.col("_best")
    pred = F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und"))
    score = F.when(
        best["s"] > 0,
        best["s"].cast("double") / (n_bigrams * 10).cast("double"),
    ).otherwise(F.lit(0.0))
    return docs.withColumn("_best", materialized(F.array_max(entries))).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        pred.alias("lang_pred"),
        score.alias("lang_score"),
    )


def corpus_stats(docs: DataFrame) -> DataFrame:
    """Corpus accounting rollup: per-(lang, source) doc/char/token
    totals plus per-lang subtotals and the grand total in ONE pass
    (``ROLLUP`` = a single Expand + one partially-aggregated exchange;
    three separate GROUP BYs would scan the corpus three times).

    ``gid`` is the standard grouping bitmask (lang = MSB) so consumers
    can tell a genuine NULL group from a subtotal row. All aggregates
    are integer sums — bit-exact against the oracle.
    """
    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    return docs.rollup("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(toks).alias("total_tokens"),
        F.grouping_id().cast("int").alias("gid"),
    )


def doc_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """TF-IDF keyword extraction: the top-k most characteristic terms
    per document, scored tf * N / df (term frequency x inverse document
    frequency WITHOUT the log — the log changes no ordering for a
    per-document ranking, and dropping it keeps the score one
    exactly-rounded IEEE division over exact longs, so the oracle
    matches bit-for-bit; log() is not correctly-rounded across
    engines).

    Scale shape: tf aggregates on (doc, term) — skew-free even when
    single terms are corpus-hot; df derives from tf (already one row
    per (doc, term), so a term-keyed count). The df side is BROADCAST
    back onto tf: the distinct-vocabulary relation is millions of rows
    at web scale, not billions, and broadcasting it avoids a term-keyed
    shuffle of the full tf relation whose stopword keys are exactly the
    Zipf-hot ones (if the vocabulary outgrows broadcast, drop the hint
    and AQE's skew-join split takes over). Final top-k is a per-doc
    window — repartitions on doc_id, bounded k rows out per doc.
    """
    toks = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.agg(F.count("*").cast("long").alias("_n"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", "tf", "df",
            ((F.col("tf") * F.col("_n")).cast("double") / F.col("df"))
            .alias("score"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


def inverted_index(docs_tokens: DataFrame, n_shards: int = 8) -> DataFrame:
    """Sharded inverted-index build (the search/retrieval side of a
    training-data pipeline): one row per (token, shard) with document
    frequency, total term frequency, and the sorted posting list.

    Postings are emitted as a ','-joined sorted doc_id string (exact,
    engine-neutral for the value-hash gate). shard = doc_id mod
    n_shards — the posting-list partitioning that keeps any single
    term's row bounded at corpus scale: hot terms ("the") spread over
    n_shards rows instead of one unbounded row, and serving-side lookup
    fans out to n_shards co-located gets. Same integer-id contract as
    decontaminate (doc_id must cast to long).

    Plan shape: per-(token, doc) partial counts first — that shuffle
    keys on (token, doc_id), which is skew-free even when token alone
    is Zipf-hot — then the (token, shard) rollup over the much smaller
    partial relation (the standard two-stage hot-key aggregation).
    """
    toks = docs_tokens.select(
        F.col("doc_id"), F.explode("tokens").alias("token")
    )
    per_doc = toks.groupBy("token", "doc_id").agg(
        F.count("*").cast("long").alias("_tf")
    )
    did = F.col("doc_id").cast("long")
    # content-addressed doc_ids would cast to NULL and silently lump
    # every posting under shard NULL — fail loudly instead (the same
    # integer-id contract guard decontaminate carries, ADVICE r2).
    did = F.when(
        F.assert_true(
            did.isNotNull(),
            "inverted_index: doc_id must cast to long (integer-id corpora); "
            "for content-addressed ids supply an explicit shard key",
        ).isNull(),
        did,
    )
    shard = F.pmod(did, F.lit(n_shards)).cast("long")
    return (
        per_doc.withColumn("shard", shard)
        .groupBy("token", "shard")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("_tf").cast("long").alias("tf"),
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias(
                "postings"
            ),
        )
    )


def ngram_lm(docs_tokens: DataFrame, min_count: int = 3) -> DataFrame:
    """Distributed bigram LM count table: (w1, w2, n12, n1, cond_p)
    with cond_p = n12 / n1 — the MLE conditional probability, ONE
    exactly-rounded division of exact longs (n1 = the left-context
    marginal, summed over the unfiltered bigram counts BEFORE the
    min_count output filter, so probabilities are true corpus MLEs).
    The count-table shape every corpus LM artifact (KenLM-style tables,
    infini-gram serving, contamination n-gram checks) starts from.

    Plan shape: bigrams come from a zip of the token array with its
    own tail — a pure map (zero joins, zero extra shuffles for pair
    construction); counts shuffle once on (w1, w2) — skew-free even
    for Zipf-hot w1 because w2 spreads the key; the w1 marginal is a
    re-agg of the counts relation (tiny vs the corpus) joined back on
    w1, where AQE's skew-join split covers the stop-word heads.
    """
    t = F.col("tokens")
    pair = F.explode(
        F.arrays_zip(
            F.slice(t, 1, F.size(t) - 1).alias("w1"),
            F.slice(t, 2, F.size(t) - 1).alias("w2"),
        )
    )
    bg = docs_tokens.filter(F.size(t) >= 2).select(pair.alias("_p")).select(
        F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2")
    )
    n12 = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n12"))
    n1 = n12.groupBy("w1").agg(F.sum("n12").cast("long").alias("n1"))
    return (
        n12.join(n1, "w1")
        .filter(F.col("n12") >= min_count)
        .select(
            "w1",
            "w2",
            "n12",
            "n1",
            (F.col("n12").cast("double") / F.col("n1").cast("double")).alias(
                "cond_p"
            ),
        )
    )


def doc_bigram_surprisal(docs: DataFrame) -> DataFrame:
    """Bigram-LM quality proxy — the CCNet perplexity-bucket signal one
    order up from doc_surprisal's unigram form: per bigram occurrence
    with corpus count n12 and left-marginal n1, integer surprisal =
    bitlen(n1) - bitlen(n12) ~ log2(1 / p(w2|w1)) within 1 bit.
    ALL-INTEGER per-doc sums (order-independent, bit-exact vs the
    oracle); mean_surprisal_bits is the single exactly-rounded division
    at the end. Docs with < 2 tokens carry no bigrams and drop out.

    Scale shape: the bigram count table is the "train the LM" pass
    (one zip-map + one (w1,w2) shuffle — skew-free because w2 spreads
    hot w1 keys); the marginal re-aggregates from the count table; the
    join back onto the bigram stream keys on (w1, w2) then w1 — the
    stop-word-head hot keys are exactly what AQE skew-split handles —
    and the final re-agg is per-doc.
    """
    t = F.split(F.col("text"), " ")
    pair = F.explode(
        F.arrays_zip(
            F.slice(t, 1, F.size(t) - 1).alias("w1"),
            F.slice(t, 2, F.size(t) - 1).alias("w2"),
        )
    )
    bg = (
        docs.filter(F.size(t) >= 2)
        .select(F.col("doc_id").cast("string").alias("doc_id"), pair.alias("_p"))
        .select("doc_id", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").cast("long").alias("n1"))
    bits = F.length(F.bin(F.col("n1"))) - F.length(F.bin(F.col("n12")))
    per = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .select("doc_id", bits.cast("long").alias("bits"))
    )
    return per.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("bits").alias("sum_surprisal_bits"),
        (F.sum("bits").cast("double") / F.count("*").cast("double")).alias(
            "mean_surprisal_bits"
        ),
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Language-ID evaluation against the corpus's OWN lang labels: the
    (true lang, predicted lang) confusion matrix with per-true-lang
    recall — the accuracy panel a pipeline publishes before trusting
    the router's language gate. share = n / n_true, ONE exactly-rounded
    division of exact longs.

    Tiny-result double aggregation (|langs|^2 keys), map-side combined;
    the prediction column is the same scan-bound native expression
    lang_id uses (no second pass: one projection, one rollup).
    """
    pred = lang_id(docs).select("doc_id", "lang_pred")
    truth = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), F.col("lang").alias("lang_true")
    )
    cm = (
        truth.join(pred, "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = cm.groupBy("lang_true").agg(F.sum("n").cast("long").alias("n_true"))
    return cm.join(tot, "lang_true").select(
        "lang_true",
        "lang_pred",
        "n",
        "n_true",
        (F.col("n").cast("double") / F.col("n_true").cast("double")).alias(
            "share"
        ),
    )


# HLL sketch geometry: m=64 registers off the shared polynomial char
# hash (h < HASH_P ~ 2^30 -> 6 register bits + 24 payload bits, max
# rho 24; production swaps in a 64-bit hash, same plan). K caps the
# exact-rational exponent; ALPHA_M2_2K = alpha_64 * m^2 * 2^K computed
# once in Python so BOTH engines inline the identical double literal.
HLL_M = 64
HLL_K = 25
HLL_ALPHA_M2_2K = 0.709 * HLL_M * HLL_M * 2**HLL_K  # 97444218011.648

# Linear-counting table for the small-range correction: index V (number
# of EMPTY registers) -> m * ln(m / V). Only 64 possible inputs, so the
# logs are precomputed HERE and inlined as identical double literals in
# both engines — ln itself is not a correctly-rounded IEEE op, a
# runtime log() could differ in the last ulp between libms.
import math as _math

HLL_LC_TABLE = [0.0] + [HLL_M * _math.log(HLL_M / v) for v in range(1, HLL_M + 1)]


def hll_dense_registers(docs: DataFrame) -> DataFrame:
    """(lang, reg, m): the dense 0..m-1 register frame — the mergeable
    HLL state itself (merge = elementwise max; streaming twin asserts
    max-merge across micro-batches == one-shot build)."""
    from glirel_spark.operators.corpus_dedup import _char_hash

    tok = docs.select(
        F.col("lang"), F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    h = _char_hash(F.col("token"))
    hv = tok.select("lang", h.alias("_h"))
    reg = (F.col("_h") % HLL_M).cast("int")
    w = F.expr(f"_h DIV {HLL_M}")
    low = w.bitwiseAND(-w)
    rho = F.when(w == 0, F.lit(HLL_K)).otherwise(
        F.length(F.bin(low)).cast("int")
    )
    regs = (
        hv.select("lang", reg.alias("reg"), rho.alias("rho"))
        .groupBy("lang", "reg")
        .agg(F.max("rho").alias("m"))
    )
    all_regs = (
        docs.select("lang")
        .distinct()
        .select(
            "lang",
            F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("reg"),
        )
    )
    return all_regs.join(regs, ["lang", "reg"], "left").select(
        "lang", "reg", F.coalesce("m", F.lit(0)).cast("int").alias("m")
    )


def distinct_hll(docs: DataFrame) -> DataFrame:
    """HyperLogLog distinct-token sketch per language — the mergeable
    cardinality structure a 10^12-doc pipeline actually uses where an
    exact count-distinct shuffle is unaffordable. Registers are
    INTEGER maxima (map-side combinable, constant state per group:
    the whole point at scale); the harmonic-mean estimate is computed
    as an EXACT RATIONAL — sum(2^-M_j) = (sum of integer 2^(K-M_j)) /
    2^K — so the only float steps are division/subtraction (correctly-
    rounded IEEE ops), bit-identical in the oracle. The small-range
    linear-counting correction (raw <= 2.5m with empty registers ->
    m*ln(m/V)) uses the precomputed HLL_LC_TABLE literals, never a
    runtime log().

    Output per lang: the 64 registers (','-joined in register order —
    the mergeable sketch itself), est_distinct, the exact n_distinct
    for comparison (the oracle recomputes BOTH), and rel_err.
    """
    tok = docs.select(
        F.col("lang"), F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    dense = hll_dense_registers(docs)
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_K} - m)")
    sk = dense.groupBy("lang").agg(
        F.sum(term).cast("long").alias("_den"),
        F.sum((F.col("m") == 0).cast("long")).cast("long").alias("n_empty"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("reg", "m"))),
                lambda s: s["m"].cast("string"),
            ),
            ",",
        ).alias("registers"),
    )
    exact = (
        tok.distinct()
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_distinct"))
    )
    est = F.lit(HLL_ALPHA_M2_2K) / F.col("_den").cast("double")
    # small-range correction: raw estimate <= 2.5m with empty registers
    # -> linear counting m*ln(m/V) via the inlined table (element_at is
    # 1-indexed; V ranges 0..m, index V+1)
    lc = F.element_at(
        F.array(*[F.lit(v) for v in HLL_LC_TABLE]),
        (F.col("n_empty") + 1).cast("int"),
    )
    corrected = F.when(
        (est <= F.lit(2.5 * HLL_M)) & (F.col("n_empty") > 0), lc
    ).otherwise(est)
    return sk.join(exact, "lang").select(
        "lang",
        "registers",
        "n_empty",
        est.alias("est_raw"),
        corrected.alias("est_distinct"),
        "n_distinct",
        (
            (corrected - F.col("n_distinct").cast("double"))
            / F.col("n_distinct").cast("double")
        ).alias("rel_err"),
    )


# Count-min geometry: d=4 rows of w=256 counters; row hashes are the
# first 4 affine permutations of the shared minhash family applied to
# the token's char hash.
CMS_D = 4
CMS_W = 256


def cms_topk(docs: DataFrame, top_n: int = 20) -> DataFrame:
    """Count-min sketch over the token stream + point-query audit: the
    OTHER mergeable structure a 10^12-row pipeline carries where exact
    per-token counts are unaffordable. The sketch is d x w INTEGER
    counters (sums — map-side combinable, constant state); the point
    estimate for a token is min over its d counters, always >= the
    true count (one-sided error, the CMS guarantee — asserted by the
    oracle via the overcount column being non-negative).

    Output: the top_n tokens by TRUE count (deterministic (count DESC,
    token) order — the audit set), each with est (CMS point query),
    exact, and overcount = est - exact. ALL-INTEGER, bit-exact.

    Scale shape: the sketch build is one groupBy((row, col)) over the
    exploded token stream — 1024 cells of state no matter the corpus;
    the exact side exists only for the audit and is the usual (token)
    count the production path would NOT run.
    """
    from glirel_spark.operators.corpus_dedup import _char_hash

    tok = docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    h = _char_hash(F.col("token"))
    ht = tok.select("token", h.alias("_h"))
    cells = None
    for i in range(CMS_D):
        a, b = config.MINHASH_AB[i]
        part = ht.select(
            F.lit(i).alias("row"),
            (((F.col("_h") * a + b) % config.HASH_P) % CMS_W).cast("int").alias("col"),
        )
        cells = part if cells is None else cells.unionByName(part)
    sketch = cells.groupBy("row", "col").agg(
        F.count("*").cast("long").alias("cnt")
    )
    exact = (
        ht.groupBy("token", "_h")
        .agg(F.count("*").cast("long").alias("exact"))
        .orderBy(F.desc("exact"), "token")
        .limit(top_n)
    )
    est = None
    for i in range(CMS_D):
        a, b = config.MINHASH_AB[i]
        col_i = (((F.col("_h") * a + b) % config.HASH_P) % CMS_W).cast("int")
        sk_i = sketch.filter(F.col("row") == i).select(
            F.col("col").alias(f"_c{i}"), F.col("cnt").alias(f"_n{i}")
        )
        joined = (est if est is not None else exact).join(
            F.broadcast(sk_i), col_i == F.col(f"_c{i}")
        )
        est = joined
    mins = F.least(*[F.col(f"_n{i}") for i in range(CMS_D)])
    return est.select(
        "token",
        mins.alias("est"),
        "exact",
        (mins - F.col("exact")).alias("overcount"),
    )


def quality_buckets(
    docs: DataFrame, n_buckets: int = config.QUALITY_N_BUCKETS
) -> DataFrame:
    """(doc_id, decibits, bucket): CCNet-style corpus quality
    stratification (Wenzek et al. 2020 route documents by perplexity
    tercile; here: surprisal deciles), computed as EXACT quantiles
    without a global sort.

    The per-doc quality score is the integer deci-bit mean surprisal
    ``(sum_surprisal_bits * 10) DIV n_tokens`` — a BOUNDED domain (a
    few hundred distinct values no matter the corpus size), so exact
    bucketing reduces to a value-frequency histogram: bucket(v) =
    (#docs with score < v) * n_buckets DIV total. All ties share a
    bucket (unlike ntile, which splits ties nondeterministically).

    Scale shape: one small-domain groupBy for the histogram, one window
    over the TINY histogram frame (bounded by the score domain, not the
    corpus), and a broadcast map join back — the corpus itself is
    touched map-side only. A global ``ntile() OVER (ORDER BY score)``
    would single-task the corpus; this never does.
    """
    s = doc_surprisal(docs).select(
        "doc_id",
        F.expr("(sum_surprisal_bits * 10) DIV n_tokens").alias("decibits"),
    )
    hist = s.groupBy("decibits").agg(F.count("*").cast("long").alias("n"))
    w = Window.orderBy("decibits").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "below", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
    )
    total = hist.agg(F.sum("n").cast("long").alias("total"))
    m = cum.join(F.broadcast(total)).select(
        "decibits",
        F.expr(f"(below * {n_buckets}) DIV total").alias("bucket"),
    )
    return s.join(F.broadcast(m), "decibits").select("doc_id", "decibits", "bucket")


def vocab_coverage(
    docs: DataFrame, ks: list[int] | None = None
) -> DataFrame:
    """(vocab_k, n_covered, n_total, coverage_milli): what fraction of
    token OCCURRENCES a top-k vocabulary covers, for each candidate
    budget k — the tokenizer/vocabulary-budget curve (coverage vs OOV
    rate) read before fixing a vocab size.

    Scale shape: the count table is VOCABULARY-bounded, so the global
    rank window runs over that bounded frame, not the corpus (the same
    bounded-domain argument as quality_buckets); the k-budget fanout is
    a literal array explode over that tiny frame; corpus totals ride
    along as a single-row broadcast cross join.
    """
    from pyspark.sql import Window as W

    ks = ks if ks is not None else config.VOCAB_KS
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ranked = counts.withColumn(
        "rk", F.row_number().over(W.orderBy(F.desc("n"), F.col("token")))
    )
    total = counts.agg(F.sum("n").cast("long").alias("n_total"))
    karr = F.array(*[F.lit(k) for k in sorted(ks)])
    per_k = (
        ranked.select("n", "rk", F.explode(karr).alias("vocab_k"))
        .filter(F.col("rk") <= F.col("vocab_k"))
        .groupBy("vocab_k")
        .agg(F.sum("n").cast("long").alias("n_covered"))
    )
    return per_k.join(F.broadcast(total)).select(
        F.col("vocab_k").cast("long"),
        "n_covered",
        "n_total",
        F.expr("(n_covered * 1000) DIV n_total").alias("coverage_milli"),
    )


def bm25_tf(docs: DataFrame) -> DataFrame:
    """The BM25 retrieval index relation: (doc_id long, token, tf) —
    one groupBy over the exploded corpus. Returned UNCACHED: cache
    ownership belongs to the pipeline layer (plans/pipeline.bm25_index
    caches it exactly like docs_shingled), because an operator-level
    cache() with no unpersist leaks a pinned relation per invocation
    in a long-lived driver."""
    did = F.col("doc_id").cast("long")
    tok = docs.select(
        F.when(
            F.assert_true(
                did.isNotNull(),
                "bm25_topk: doc_id must cast to long (integer-id corpora)",
            ).isNull(),
            did,
        ).alias("doc_id"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    return tok.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("tf")
    )


def bm25_topk(
    docs: DataFrame,
    k: int = config.BM25_TOPK,
    query_mod: int = config.BM25_QUERY_MOD,
    tf: DataFrame | None = None,
) -> DataFrame:
    """BM25 more-like-this retrieval: for each sampled query document
    (``doc_id % query_mod == 0``), the top-k lexically-closest other
    documents under Okapi BM25 (k1=1.2, b=0.75) — the retrieval side of
    a curation pipeline (lexical near-dup triage, seed-document corpus
    expansion, retrieval-augmented filtering a la DSIR's target-domain
    matching).

    Exactness discipline: BM25's per-term score
    ``idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` is cross-multiplied
    into pure int64 arithmetic — with k1=6/5, b=3/4 and both sides
    scaled by ``10*avgdl`` the term becomes
    ``idf_bits * 22*tf*avgdl*1000 DIV (10*tf*avgdl + 3*avgdl + 9*dl)``
    (one integer division per term, quantized to milli); idf is the
    bit-length log2 surrogate ``bitlen(N)-bitlen(df)`` (within 1 bit,
    the same ``length(bin(x))`` idiom as doc_surprisal), and avgdl is
    the floored integer mean doc length. Per-pair sums are then exact
    long sums — order-independent, bit-identical in DuckDB.

    Scale shape: tf aggregates on (doc, term) — skew-free; df and idf
    attach to the QUERY side, which is tiny (``N/query_mod`` docs ×
    the ``BM25_QUERY_TERMS`` RAREST terms each, df asc / term asc — the
    standard query-term-selection cut: rare terms carry essentially all
    of a query's BM25 mass, and the per-query budget bounds both the
    broadcast size and the posting-join fanout by construction, where a
    global df-fraction stopword cut would degenerate on a Zipf-hot
    vocabulary) and broadcast — the corpus-side tf relation is probed
    map-side, never shuffled on the hot term key.
    Top-k is TWO-PHASE: a per-shuffle-partition local top-k
    under the total order (score desc, cand asc) first — the global
    top-k is provably inside the union of local winners — then the
    exact per-query window over k*P survivors, so no single query's
    full candidate list ever sorts in one task.

    Reference analogue: retrieval-style candidate generation mirrors
    the reference's use of mention/label similarity for zero-shot label
    matching (glirel/modules/evaluator.py's ranked predictions); BM25
    itself is public Robertson/Sparck-Jones.
    """
    from pyspark.sql import Window as W

    # tf/dl/dft form the retrieval INDEX: four consumers (dl, dft, the
    # query side, the probe) share one build — at scale these are
    # persisted tables written once per corpus snapshot, queried
    # forever (the same stage boundary as the shingled corpus). Cache
    # ownership is the CALLER's: pass tf=pipeline.bm25_index(...) for
    # the cached form; the default builds it uncached (no leak).
    if tf is None:
        tf = bm25_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    dft = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("sum(dl) DIV count(*)").cast("long").alias("avgdl"),
    )
    wq = W.partitionBy("q_doc").orderBy(F.asc("df"), F.asc("token"))
    qside = (
        tf.filter(F.pmod(F.col("doc_id"), F.lit(query_mod)) == 0)
        .select(F.col("doc_id").alias("q_doc"), "token")
        .join(dft, "token")
        .withColumn("_tr", F.row_number().over(wq))
        .filter(F.col("_tr") <= config.BM25_QUERY_TERMS)
        .crossJoin(F.broadcast(stats))
        .select(
            "q_doc", "token", "avgdl",
            (F.length(F.bin("n_docs")) - F.length(F.bin("df")))
            .cast("long").alias("idf_bits"),
        )
    )
    contrib = F.expr(
        "(idf_bits * 22 * tf * avgdl * 1000)"
        " DIV (10 * tf * avgdl + 3 * avgdl + 9 * dl)"
    )
    pair = (
        tf.join(F.broadcast(qside), "token")
        .filter(F.col("doc_id") != F.col("q_doc"))
        .join(dl, "doc_id")
        .groupBy("q_doc", F.col("doc_id").alias("cand_doc"))
        .agg(
            F.sum(contrib).cast("long").alias("score_milli"),
            F.count("*").cast("long").alias("n_terms"),
        )
    )
    order = [F.desc("score_milli"), F.asc("cand_doc")]
    loc = W.partitionBy("q_doc", F.spark_partition_id()).orderBy(*order)
    pruned = (
        pair.withColumn("_lr", F.row_number().over(loc))
        .filter(F.col("_lr") <= k)
        .drop("_lr")
    )
    w = W.partitionBy("q_doc").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("q_doc", "rank", "cand_doc", "score_milli", "n_terms")
    )


BPE_ROUNDS = 8


def bpe_merges(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016): learn the first
    ``rounds`` merge rules from the corpus — the artifact every
    LLM-data pipeline ships next to the data itself. One row per merge:
    (round, left, right, merged, pair_count), deterministic tie-break
    (count desc, left asc, right asc).

    Algorithm: words split to symbol sequences (chars + the classic
    '</w>' end-of-word marker); each round counts adjacent symbol
    pairs weighted by word frequency, merges the most frequent pair
    corpus-wide (left-to-right, non-overlapping — 'aaa' under ('a','a')
    yields ['aa','a']), repeats.

    Scale shape: BPE trains on the WORD-FREQUENCY relation, not the
    corpus — the corpus is touched exactly once (explode + count); the
    working set is the vocabulary (millions of rows at web scale, never
    billions). Per round: ONE map-side-combinable aggregation down to a
    single argmax row (min(struct(-cnt,l,r)) — partial aggregation does
    the heavy lifting, the final reduce sees one candidate per
    partition), then a pure map over the vocab applying the merge via
    a higher-order fold (no shuffle). The R driver fetches are single
    rows — the same bounded-action pattern as the threshold grid — and
    each round's vocab goes through fixpoint.materialize, so plan depth
    stays O(1). Inherently sequential across rounds (each merge changes
    the next round's pair counts): R is small by definition of the op.

    The oracle is a committed golden table from an independent pure-
    python replay (tools/gen_bpe_golden.py) — iterative argmax with
    data-dependent loop-carried state is not expressible in one SQL
    query, the same footing as triples_neural.
    """
    _, merges = _bpe_train(docs, rounds)
    return docs.sparkSession.createDataFrame(
        merges,
        "round int, left string, right string, merged string, pair_count long",
    )


def _bpe_train(docs: DataFrame, rounds: int):
    """Shared BPE trainer: returns (final word->symbols vocab relation
    (w, freq, sym), merge list [(round, left, right, merged, count)])."""
    words = fixpoint.materialize(
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .select(
            "w", "freq",
            F.concat(F.split("w", ""), F.array(F.lit("</w>"))).alias("sym"),
        )
    )
    out = []
    for rnd in range(1, rounds + 1):
        pairs = words.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(sym, 1, size(sym) - 1)").alias("l"),
                    F.expr("slice(sym, 2, size(sym) - 1)").alias("r"),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(
                F.col("p.l").alias("l"), F.col("p.r").alias("r")
            )
            .agg(F.sum("freq").alias("cnt"))
            .select(
                F.min(F.struct((-F.col("cnt")).alias("nc"), "l", "r")).alias("b")
            )
            .first()
        )
        if best is None or best["b"] is None:
            break  # vocabulary fully merged (degenerate tiny corpus)
        left, right, cnt = best["b"]["l"], best["b"]["r"], -best["b"]["nc"]
        merged = left + right
        sym = F.col("sym")
        words = fixpoint.materialize(
            words.select(
                "w", "freq",
                F.aggregate(
                    F.sequence(F.lit(0), F.size(sym) - 1),
                    F.struct(
                        F.array().cast("array<string>").alias("out"),
                        F.lit(False).alias("skip"),
                    ),
                    lambda acc, i: F.when(
                        acc["skip"],
                        F.struct(acc["out"].alias("out"), F.lit(False).alias("skip")),
                    )
                    .when(
                        (F.get(sym, i) == left) & (F.get(sym, i + 1) == right),
                        F.struct(
                            F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                            F.lit(True).alias("skip"),
                        ),
                    )
                    .otherwise(
                        F.struct(
                            F.concat(acc["out"], F.array(F.get(sym, i))).alias("out"),
                            F.lit(False).alias("skip"),
                        )
                    ),
                    lambda acc: acc["out"],
                ).alias("sym"),
            )
        )
        out.append((rnd, left, right, merged, int(cnt)))
    return words, out


def bpe_token_counts(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Apply the TRAINED BPE tokenizer back to the corpus: per-document
    exact subword counts under the learned merge table, next to the
    chars/4 estimate token_counts ships — the real token-budget feed
    for packing.token_blocks / corpus_mixture once a tokenizer exists.
    ``fertility_milli`` (subwords per word x1000, integer DIV) is the
    standard tokenizer-quality metric.

    Scale shape: training cost is bpe_merges (vocabulary-sized, corpus
    touched once); APPLICATION is a word-keyed join of the exploded
    corpus against the (word -> n_subwords) relation — vocabulary-sized
    build side (broadcast-able at most scales; plain shuffle join with
    AQE skew split otherwise) — then one per-doc sum. Words are
    segmented once per TYPE, not per token: the classic BPE-serving
    trick, identical to training on word frequencies. Unseen words
    cannot occur here (vocab is trained on the same corpus); a serving
    deployment would add a char-fallback arm for OOV types.
    """
    vocab, _ = _bpe_train(docs, rounds)
    # a STANDALONE '</w>' symbol (end marker not yet merged into its
    # word's last subword) is a training artifact, not an emitted
    # token — exclude it from the count
    seg = vocab.select(
        "w",
        F.size(F.filter("sym", lambda s: s != "</w>"))
        .cast("long").alias("n_sub"),
    )
    wtok = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split("text", " ")).alias("w"),
    ).filter(F.length("w") > 0)
    est = F.ceil(F.length("w") / F.lit(4.0)).cast("long")
    return (
        wtok.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("bpe_tokens"),
            F.sum(est).cast("long").alias("est_tokens"),
        )
        .select(
            "doc_id", "n_words", "bpe_tokens", "est_tokens",
            F.expr("(bpe_tokens * 1000) DIV n_words").alias("fertility_milli"),
        )
    )


def corpus_mixture(
    docs: DataFrame,
    budget: int = config.MIXTURE_BUDGET_TOKENS,
    weights_bps: dict[str, int] | None = None,
) -> DataFrame:
    """Training-mixture planner (the data-mixing step of an LLM data
    pipeline, the DoReMi/Pile-weights shape): allocate a global token
    budget across language domains by configured weights, exactly.

    Allocation is LARGEST-REMAINDER apportionment in pure integers:
    ``base_d = budget*w_d DIV 10000``, the ``budget - sum(base)``
    leftover tokens (< n_domains by construction) go to the largest
    ``budget*w_d MOD 10000`` remainders (tie: domain asc) — so targets
    sum to the budget EXACTLY, no float shares, bit-identical in the
    oracle. Per domain the plan reports availability, target,
    ``quota = min(available, target)``, the deficit, and the integer
    keep-rate (bps) a downstream stratified_sample needs to hit quota.

    Scale shape: the corpus contributes ONE map-side-combined
    aggregation (domain <- lang via a literal CASE, token counts are
    split-size arithmetic — scan-bound, no UDF); everything after runs
    on the DOMAIN relation, whose size is the weight table's (single
    digits) — its windows are constant-size, not data-size. Domains
    configured but absent from the corpus still get their row
    (available=0) so the deficit is visible, via a left join from the
    weight relation.
    """
    if weights_bps is None:
        weights_bps = config.MIXTURE_WEIGHTS_BPS
    assert sum(weights_bps.values()) == 10_000, "weights must sum to 10000"
    spark = docs.sparkSession

    known = [d for d in sorted(weights_bps) if d != "other"]
    dom = F.when(F.col("lang").isin(known), F.col("lang")).otherwise(
        F.lit("other")
    )
    avail = (
        docs.select(
            dom.alias("domain"),
            F.size(F.split("text", " ")).cast("long").alias("n"),
        )
        .groupBy("domain")
        .agg(F.sum("n").alias("available_tokens"))
    )
    wdf = spark.createDataFrame(
        sorted(weights_bps.items()), "domain string, weight_bps long"
    )
    b = F.lit(budget).cast("long")
    alloc = wdf.select(
        "domain", "weight_bps",
        F.expr(f"({budget} * weight_bps) DIV 10000").alias("base"),
        F.expr(f"({budget} * weight_bps) % 10000").alias("rem"),
    )
    # constant-size relation (== weight table): global windows are fine
    wr = Window.orderBy(F.desc("rem"), F.asc("domain"))
    alloc = (
        alloc.withColumn("leftover", b - F.sum("base").over(
            Window.partitionBy()
        ))
        .withColumn("rk", F.row_number().over(wr))
        .select(
            "domain", "weight_bps",
            (F.col("base") + (F.col("rk") <= F.col("leftover")).cast("long"))
            .alias("target_tokens"),
        )
    )
    av = F.coalesce(F.col("available_tokens"), F.lit(0).cast("long"))
    quota = F.least(av, F.col("target_tokens"))
    return (
        alloc.join(avail, "domain", "left")
        .select(
            "domain", "weight_bps",
            av.alias("available_tokens"),
            "target_tokens",
            quota.alias("quota_tokens"),
            (F.col("target_tokens") - quota).alias("deficit_tokens"),
            F.when(av > 0, F.expr(
                "(least(coalesce(available_tokens, 0), target_tokens)"
                " * 10000) DIV coalesce(available_tokens, 0)"
            )).otherwise(F.lit(0)).cast("long").alias("keep_bps"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing (round 4)
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_HOST_RE = r"host-\d+"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_ipv4, n_hosts, redacted): detect and redact
    email / IPv4 / hostname patterns — the scrubbing pass every
    training corpus goes through before packing.

    The synthetic corpus contains no such patterns, so the operator
    first INJECTS them deterministically from doc_id (``did % 3``
    emails, ``did % 4`` IPs, ``did % 5`` host ids appended via
    ``repeat``) — the same synthesize-then-verify pattern the media
    payloads use — and the oracle twin replays injection + extraction +
    redaction exactly, so the emitted redacted STRING (not just the
    counts) is value-checked.

    Plan shape: three ``regexp_extract_all`` + chained
    ``regexp_replace`` inside one whole-stage-codegen projection. No
    UDF, no shuffle — an embarrassingly parallel scan; on a real crawl
    the injection step disappears and the regex set widens (phones,
    SSNs, secrets), same plan.
    """
    did = F.col("doc_id").cast("long")
    s = lambda x: x.cast("string")
    email = F.concat(F.lit(" user"), s(did), F.lit("@example.org"))
    ip = F.concat(
        F.lit(" 10."), s(did % 256), F.lit("."), s((did * 7) % 256),
        F.lit("."), s((did * 13) % 256),
    )
    host = F.concat(F.lit(" host-"), s(did))
    aug = F.concat(
        F.col("text"),
        F.repeat(email, (did % 3).cast("int")),
        F.repeat(ip, (did % 4).cast("int")),
        F.repeat(host, (did % 5).cast("int")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE, "<IP>",
        ),
        PII_HOST_RE, "<HOST>",
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_IPV4_RE), F.lit(0)))
        .cast("long").alias("n_ipv4"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_HOST_RE), F.lit(0)))
        .cast("long").alias("n_hosts"),
        redacted.alias("redacted"),
    )
