"""Corpus deduplication — the training-data-pipeline operators.

All sketches use engine-portable integer arithmetic (token ids from
per-character polynomial hashes, polynomial shingle hashes, affine
minhash permutations mod a prime), so every stage is oracle-checkable
in DuckDB bit-for-bit.

Scale notes (the whole point of these ops):
- token-id assignment: a map-side char hash per token — no vocabulary
  table, no global sort, no corpus-wide state of any kind.
- minhash: the distinct-shingle array and all K permutation minima are
  array expressions on the doc row — map-only, no shuffle.
- LSH banding: signature -> (band, key) rows; candidate pairs via an
  equi-join on the band key (never an all-pairs product). Band keys are
  near-uniform, so the join is skew-free; verification Jaccard joins
  the two shingle arrays of candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from glirel_spark import config
from glirel_spark.operators import fixpoint


# ---------------------------------------------------------------------------
# Join-free minhash: per-char polynomial token hashes, shingles + the
# FULL signature as array expressions on the doc row — zero shuffles
# until the LSH band join; the plan holds at any corpus size (pure map +
# one equi-join).
# ---------------------------------------------------------------------------

def _char_hash(tok) -> "F.Column":
    return F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("long"),
        lambda a, c: (a * config.SHINGLE_BASE + F.ascii(c)) % config.HASH_P,
    )


def with_shingle_array(docs_tokens: DataFrame, col_name: str = "_sh") -> DataFrame:
    """+ distinct-shingle array column.

    The token-hash array goes through the ``materialized`` barrier
    (functions/barrier.py) because the shingle lambda indexes it per
    element — without the fence Catalyst inlines the per-char fold and
    the stage degrades to O(n^2 * len) per row."""
    from glirel_spark.functions.barrier import materialized

    b, p = config.SHINGLE_BASE, config.HASH_P
    out = docs_tokens.withColumn(
        "_th", materialized(F.transform(F.col("tokens"), _char_hash))
    )
    th = F.col("_th")
    n = F.size(th)
    sh = F.when(
        n >= config.SHINGLE_K,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - config.SHINGLE_K),
                lambda i: (((th[i] % p) * b + th[i + 1]) % p * b + th[i + 2]) % p,
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    return out.withColumn(col_name, materialized(sh)).drop("_th")


def minhash_signature_arr(
    docs_tokens: DataFrame, shingled: DataFrame | None = None
) -> DataFrame:
    """(doc_id, mh0..mh{K-1}) with NO shuffle: array_min over affine
    permutations of the per-row shingle array. Pass ``shingled`` (a
    with_shingle_array frame, possibly cached) to share the shingle
    pass with the jaccard-verify subtree."""
    p = config.HASH_P
    df = shingled if shingled is not None else with_shingle_array(docs_tokens)

    def perm(a: int, b: int):
        return lambda s: (s * a + b) % p

    cols = [F.col("doc_id")]
    for i, (a, b) in enumerate(config.MINHASH_AB):
        cols.append(
            F.array_min(F.transform(F.col("_sh"), perm(a, b))).alias(f"mh{i}")
        )
    return df.select(*cols)


def shingles_arr(
    docs_tokens: DataFrame, shingled: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sh) exploded from the array form (for jaccard verify)."""
    df = shingled if shingled is not None else with_shingle_array(docs_tokens)
    return df.select("doc_id", F.explode("_sh").alias("sh"))


def minhash_neardups_arr(
    docs_tokens: DataFrame,
    threshold: float = config.NEARDUP_JACCARD,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Join-free pipeline: signatures (map-only) -> band join -> exact
    jaccard verify on candidates only.

    The signature subtree and the verify subtree both consume the
    per-row shingle arrays; pass a cached ``shingled`` frame so the
    char-hash + shingle pass runs once, not twice (at scale: write the
    shingled corpus as a table — the same stage boundary as the
    mention-annotated corpus)."""
    if shingled is None:
        shingled = with_shingle_array(docs_tokens)
    sig = minhash_signature_arr(docs_tokens, shingled=shingled)
    cands = candidate_pairs(lsh_bands(sig))
    return jaccard_verify_arr(cands, shingled).filter(
        F.col("jaccard") >= threshold
    )


def lsh_bands(sig: DataFrame) -> DataFrame:
    """signature -> (doc_id, band, band_key) rows; rows-per-band =
    MINHASH_K / MINHASH_BANDS hashes combined into one key."""
    r = config.MINHASH_K // config.MINHASH_BANDS
    p = config.HASH_P
    rows = []
    for band in range(config.MINHASH_BANDS):
        key = F.lit(0).cast("long")
        for j in range(r):
            key = (key * config.SHINGLE_BASE + F.col(f"mh{band * r + j}")) % p
        rows.append(
            sig.select("doc_id", F.lit(band).alias("band"), key.alias("band_key"))
        )
    out = rows[0]
    for more in rows[1:]:
        out = out.unionByName(more)
    return out


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """docs sharing any band key, doc1 < doc2 (distinct)."""
    a = bands.toDF("doc1", "band", "band_key")
    b = bands.toDF("doc2", "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def jaccard_verify_arr(cands: DataFrame, shingled: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only, row-local off
    the per-doc shingle ARRAYS of a ``with_shingle_array`` frame.

    Each candidate pair joins each side's shingle array, and the
    intersection is one ``array_intersect`` per pair — no per-shingle
    shuffle at all. Arrays are distinct by construction, so
    |A∩B| = |array_intersect|; |A∪B| = |A| + |B| − |A∩B|. jaccard is
    emitted as the exact rational (inter, un) plus the IEEE quotient.
    """
    s = shingled.select("doc_id", "_sh")
    return (
        cands.join(s.toDF("doc1", "_sh1"), "doc1")
        .join(s.toDF("doc2", "_sh2"), "doc2")
        .select(
            "doc1", "doc2",
            F.size(F.array_intersect("_sh1", "_sh2")).cast("long").alias("inter"),
            F.size("_sh1").alias("_n1"), F.size("_sh2").alias("_n2"),
        )
        .select(
            "doc1", "doc2", "inter",
            (F.col("_n1") + F.col("_n2") - F.col("inter")).cast("long").alias("un"),
        )
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("un"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(docs_tokens: DataFrame) -> DataFrame:
    """(doc_id, simhash): SIMHASH_BITS-bit signature, join-free.

    bit_b(tid) = ((tid * A_b + B_b) mod P) mod 2; each token occurrence
    contributes ±1 to bit b; signature bit = 1 iff sum > 0. Summing over
    token POSITIONS equals the (tid, count)-grouped sum, so the whole
    signature is a per-ROW fold over the token-hash array — zero
    shuffles, no vocabulary stage, no (doc, tid) aggregation (round-6
    rewrite; the previous form paid a distinct-vocab aggregation, a
    broadcast join, and two full (doc, tid) shuffles — guide §2.4). The
    per-bit sums are bit-identical integers, so the signature (and its
    DuckDB oracle) is unchanged.
    """
    p = config.HASH_P
    toks = docs_tokens.select(
        "doc_id", F.explode(F.transform(F.col("tokens"), _char_hash)).alias("tid")
    )
    aggs = []
    for bit, (a, b) in enumerate(config.SIMHASH_AB):
        sign = ((F.col("tid") * a + b) % p % 2) * 2 - 1
        aggs.append(F.sum(sign).alias(f"s{bit}"))
    sums = toks.groupBy("doc_id").agg(*aggs)
    sh = F.lit(0).cast("long")
    for bit in range(config.SIMHASH_BITS):
        sh = sh + F.when(F.col(f"s{bit}") > 0, F.lit(1 << bit)).otherwise(F.lit(0))
    return sums.select("doc_id", sh.alias("simhash"))


def simhash_neardups(docs_tokens: DataFrame,
                     max_hamming: int = config.SIMHASH_MAX_HAMMING) -> DataFrame:
    """Near-dup pairs by Hamming distance <= max_hamming.

    LSH blocking: split the signature into (max_hamming + 1) chunks —
    any pair within distance d shares at least one exact chunk
    (pigeonhole). Equi-join per chunk, then exact popcount verify.
    """
    # round-6: both sides of the chunk self-join (and each of the
    # n_chunks union branches) re-expanded the signature aggregation;
    # cut the lineage once — at scale this is "materialize the
    # signature table", the standard sketch-store boundary.
    sig = fixpoint.materialize(simhash(docs_tokens))
    n_chunks = max_hamming + 1
    chunk_bits = config.SIMHASH_BITS // n_chunks
    blocks = None
    for ci in range(n_chunks):
        chunk = F.shiftright(F.col("simhash"), ci * chunk_bits) % (1 << chunk_bits)
        rows = sig.select("doc_id", "simhash", F.lit(ci).alias("ck"), chunk.alias("ckey"))
        blocks = rows if blocks is None else blocks.unionByName(rows)
    a = blocks.toDF("doc1", "sim1", "ck", "ckey")
    b = blocks.toDF("doc2", "sim2", "ck", "ckey")
    cands = (
        a.join(b, ["ck", "ckey"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2", "sim1", "sim2")
        .distinct()
    )
    ham = F.bit_count(F.col("sim1").bitwiseXOR(F.col("sim2")))
    return cands.select(
        "doc1", "doc2", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Exact dedup + fingerprint
# ---------------------------------------------------------------------------

def fingerprint(docs_tokens: DataFrame) -> DataFrame:
    """(doc_id, fp): rolling polynomial hash of the full token-id stream
    (order-sensitive document fingerprint).

    Round-6: a per-ROW fold over the token-hash array — tid is a pure
    function of the token and array order IS position order, so the
    previous plan (posexplode -> groupBy(doc) collect_list ->
    array_sort -> fold) shuffled the whole (doc, pos, tid) stream and
    sorted it per doc just to recover the order the row already had
    (guide §2.4). Zero shuffles now; identical values. Docs with zero
    tokens are filtered (the exploded form dropped them implicitly).
    """
    return docs_tokens.where(F.size("tokens") > 0).select(
        "doc_id", fingerprint_expr(F.col("tokens")).alias("fp")
    )


def fingerprint_expr(tokens: Column) -> Column:
    """The document fingerprint of a token array: the per-char token
    hash folded as (acc * FINGERPRINT_BASE + tid) % HASH_P in token
    order. Map-only, so the streaming dedup (streaming/dedup_state.py)
    computes it on the arriving row."""
    return F.aggregate(
        F.transform(tokens, _char_hash),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * config.FINGERPRINT_BASE + t) % config.HASH_P,
    )


def neardup_clusters(
    docs_tokens: DataFrame,
    neardups: DataFrame | None = None,
    threshold: float = config.NEARDUP_JACCARD,
    max_iter: int = 20,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate FAMILY resolution: connected components over the
    verified MinHash near-dup pairs, canonical doc = min doc_id per
    family. Output: (doc_id, canonical_id, is_canonical) for EVERY
    corpus document — the keep/drop decision a training-data dedup pass
    actually consumes (transitive closure matters: A~B, B~C with A!~C
    must still collapse to one family, which pairwise filtering alone
    cannot express).

    Scale shape: fixpoint.min_label_components iterates ONLY over the
    edge-node subgraph (docs appearing in at least one near-dup pair —
    a tiny fraction of a deduplicated web corpus), and cuts the edge
    relation once, so the signature + band-join + verify subtree runs
    once rather than once per round; the full corpus joins in exactly
    once at the end (left join for the singleton default). A chain
    longer than max_iter rounds raises rather than returning a
    partially merged family, because the DuckDB oracle computes the
    full transitive closure.
    """
    if neardups is None:
        neardups = minhash_neardups_arr(docs_tokens, threshold, shingled=shingled)
    e = neardups.select(F.col("doc1").alias("a"), F.col("doc2").alias("b"))
    labels = fixpoint.min_label_components(
        e, max_iter, "neardup_clusters"
    ).withColumnRenamed("node", "doc_id")
    docs = docs_tokens.select(F.col("doc_id").cast("string").alias("doc_id"))
    canonical = F.coalesce(F.col("root"), F.col("doc_id"))
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        canonical.alias("canonical_id"),
        (canonical == F.col("doc_id")).alias("is_canonical"),
    )


def exact_dedup(docs_tokens: DataFrame) -> DataFrame:
    """Exact duplicate groups by fingerprint: keeper = min doc_id.

    Hash-groupBy — the classic first dedup pass; at 100 TB the group
    key is the 8-byte fp, not the document text.
    """
    fp = fingerprint(docs_tokens)
    return fp.groupBy("fp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").alias("keeper"),
    )


def decontaminate(
    shingled: DataFrame, eval_mod: int = config.DECONTAM_EVAL_MOD
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least one k-token shingle with the eval split.

    The eval split here is ``doc_id % eval_mod == 0`` — a deterministic
    stand-in for the external benchmark table a production pipeline
    joins against (GSM8K/MMLU-style decontamination sweeps; e.g. the
    13-gram overlap filters described in the GPT-3/PaLM appendices).

    Scale shape: benchmarks are SMALL AND BOUNDED by construction, so
    the eval shingle set is aggregated to ONE sorted array row and
    broadcast (BroadcastNestedLoopJoin with a single-row build side —
    Catalyst's native broadcast-variable); the corpus side is then a
    pure map-only scan — ``array_intersect`` per row against the
    broadcast set, NO corpus-side shuffle, no matter how many training
    documents flow past. No driver ``collect()`` and no giant plan
    literal (the round-2 form inlined the set as one array literal,
    which bloats analysis/codegen for multi-benchmark sweeps).
    ``n_hits`` counts distinct shared shingles (both sides are distinct
    by construction).
    """
    did = F.col("doc_id").cast("long")
    # content-addressed (sha1) doc_ids cast to NULL and would silently
    # empty the result — fail loudly instead (ADVICE r2): the pseudo
    # eval split is defined on integer-id corpora only; real pipelines
    # pass an explicit benchmark table as the eval side.
    did = F.when(
        F.assert_true(
            did.isNotNull(),
            "decontaminate: doc_id must cast to long (integer-id corpora); "
            "for content-addressed ids supply an explicit eval split",
        ).isNull(),
        did,
    )
    is_eval = (did % eval_mod) == 0
    ev_arr = (
        shingled.filter(is_eval)
        .select(F.explode("_sh").alias("sh"))
        .distinct()
        .agg(F.sort_array(F.collect_list("sh")).alias("_eval_sh"))
    )
    hits = F.size(F.array_intersect(F.col("_sh"), F.col("_eval_sh")))
    return (
        shingled.filter(~is_eval)
        .join(F.broadcast(ev_arr))
        .select(
            "doc_id",
            hits.cast("int").alias("n_hits"),
            (hits > 0).alias("contaminated"),
        )
    )


def doc_repetition(shingled: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signal: the fraction of
    k-token shingles that are duplicates of an earlier shingle in the
    same document (Rae et al. 2021 "duplicate n-gram fraction" family).

    Derived entirely from the cached shingle pass (with_shingle_array
    keeps only DISTINCT shingles, so duplicates = total windows -
    distinct): one more map-only projection over an already-materialized
    column — zero marginal scan cost when run alongside the dedup
    family.
    """
    k = config.SHINGLE_K
    total = F.greatest(F.size("tokens") - (k - 1), F.lit(0)).cast("long")
    nd = F.size("_sh").cast("long")
    frac = F.when(
        total > 0,
        F.lit(1.0) - nd.cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))
    return shingled.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        total.alias("n_shingles"),
        nd.alias("n_distinct_shingles"),
        frac.alias("dup_shingle_frac"),
    )


def chunk_dedup(docs_tokens: DataFrame, w: int = config.CHUNK_W) -> DataFrame:
    """Chunk-level (line-level) dedup accounting — the CCNet /
    RefinedWeb "remove duplicated lines, keep one occurrence" pass.
    This corpus has no newline structure, so the unit is a fixed
    ``w``-token chunk (the last chunk may be shorter); on real documents
    the chunking rule is the only thing that changes.

    Per chunk: polynomial hash of its token ids (same per-char token
    hash + fold discipline as shingles — oracle replays it exactly).
    Corpus-wide, a chunk hash's KEEPER is the (doc_id, chunk_idx)-least
    occurrence. Per doc: ``n_chunks``, ``n_dup_chunks`` (occurrences
    whose hash appears >1 time corpus-wide), ``n_kept_chunks`` (unique
    occurrences plus keeper copies — what a rewrite pass would retain),
    and ``dup_ratio`` (ONE exactly-rounded division).

    Scale shape: chunk hashes are a map-only array expression per doc
    row (no position self-join); the corpus-wide occurrence count +
    keeper election is ONE groupBy on the chunk hash (near-uniform key —
    hot boilerplate chunks are exactly what AQE skew-split handles);
    the join back to occurrences shuffles on the same hash and the
    final per-doc re-agg is map-side combinable.
    """
    from glirel_spark.functions.barrier import materialized

    b, p = config.SHINGLE_BASE, config.HASH_P
    d = docs_tokens.withColumn(
        "_th", materialized(F.transform(F.col("tokens"), _char_hash))
    )
    th = F.col("_th")
    n = F.size(th)
    n_chunks = F.floor((n + F.lit(w - 1)) / F.lit(w)).cast("int")
    chunk_arr = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda j: F.aggregate(
                F.slice(th, j * w + 1, w),
                F.lit(0).cast("long"),
                lambda a, t: (a * b + t) % p,
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    occ = d.select(
        "doc_id", F.posexplode(chunk_arr).alias("chunk_idx", "ch")
    )
    grouped = occ.groupBy("ch").agg(
        F.count("*").cast("long").alias("n_occ"),
        F.min(F.struct("doc_id", "chunk_idx")).alias("_keeper"),
    )
    kept = (F.col("n_occ") == 1) | (
        (F.col("doc_id") == F.col("_keeper.doc_id"))
        & (F.col("chunk_idx") == F.col("_keeper.chunk_idx"))
    )
    return (
        occ.join(grouped, "ch")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum((F.col("n_occ") > 1).cast("long")).alias("n_dup_chunks"),
            F.sum(kept.cast("long")).alias("n_kept_chunks"),
            (
                F.sum((F.col("n_occ") > 1).cast("long")).cast("double")
                / F.count("*").cast("double")
            ).alias("dup_ratio"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    n_buckets: int = config.DSIR_BUCKETS,
    target_lang: str = config.DSIR_TARGET_LANG,
) -> DataFrame:
    """DSIR-style importance-resampling weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by how target-like its hashed n-gram features are,
    weight = sum over features of log p_target(f) / p_raw(f). Here the
    target distribution is the ``lang == target_lang`` slice (a real
    pipeline points this at a curated corpus) and raw is the whole
    corpus.

    Exactness: the per-bucket log-ratio is the integer bit-length form
    (bitlen(ct+1) - bitlen(Ct+B)) - (bitlen(cr+1) - bitlen(Cr+B)) —
    add-one smoothing, log2 within 1 bit, ALL-INTEGER via
    ``length(bin(x))`` (identical in Spark and DuckDB), so per-doc sums
    are order-independent and ``mean_logratio_bits`` is the single
    exactly-rounded division at the end.

    Scale shape: hashed-bigram buckets (b = bigram shingle hash mod
    ``n_buckets``) come from ONE map-only array expression per doc; the
    two count tables are <= n_buckets rows after full map-side combine
    (the shuffle carries partial counts, not occurrences); totals ride
    along as a single-row broadcast cross join (no driver collect); and
    the weight table joins back to the feature stream BROADCAST — the
    corpus-side plan is scan -> explode -> broadcast join -> per-doc
    re-agg, with no large shuffle except the doc_id re-agg itself.
    """
    from glirel_spark.functions.barrier import materialized

    b, p = config.SHINGLE_BASE, config.HASH_P
    d = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "lang",
        F.split(F.col("text"), " ").alias("tokens"),
    ).withColumn("_th", materialized(F.transform(F.col("tokens"), _char_hash)))
    th = F.col("_th")
    n = F.size(th)
    bg = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: ((th[i] % p) * b + th[i + 1]) % p % n_buckets,
        ),
    ).otherwise(F.array().cast("array<long>"))
    stream = d.select("doc_id", "lang", F.explode(bg).alias("bucket"))
    cr = stream.groupBy("bucket").agg(F.count("*").cast("long").alias("cr"))
    ct = (
        stream.filter(F.col("lang") == target_lang)
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("ct"))
    )
    counts = cr.join(ct, "bucket", "left").select(
        "bucket", "cr", F.coalesce("ct", F.lit(0)).cast("long").alias("ct")
    )
    totals = counts.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )  # 1 row -> broadcast
    bits = lambda x: F.length(F.bin(x))  # noqa: E731 — bitlen, both engines
    w = (
        (bits(F.col("ct") + 1) - bits(F.col("tt") + n_buckets))
        - (bits(F.col("cr") + 1) - bits(F.col("tr") + n_buckets))
    ).cast("long")
    weights = counts.join(F.broadcast(totals)).select("bucket", w.alias("w"))
    return (
        stream.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("w").cast("long").alias("logratio_bits"),
            (
                F.sum("w").cast("double") / F.count("*").cast("double")
            ).alias("mean_logratio_bits"),
        )
    )


def dup_spans(docs_tokens: DataFrame, k: int = config.SHINGLE_K) -> DataFrame:
    """ExactSubstr-style duplicated-substring detection (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    find, per document, the maximal runs of consecutive k-shingle
    positions whose shingle also occurs in ANOTHER document. A run of L
    consecutive duplicated positions == an exactly-duplicated substring
    of L + k - 1 tokens — the suffix-array pass of the paper re-expressed
    as a shuffle join + gaps-and-islands, which is the shape that
    distributes (a suffix array over 100 TB does not).

    Output per doc (docs with >=1 duplicated position): ``n_dup_positions``,
    ``n_runs``, ``max_run`` (longest run in positions), ``max_dup_tokens``
    (= max_run + k - 1), ``dup_cover_ratio`` (ONE exactly-rounded
    division by the doc's shingle-position count).

    Scale shape: positional shingles are the same map-only array
    expression as the minhash path (shared subtree when both run);
    cross-doc support is a two-stage exact count-distinct on
    (sh, doc_id) — skew-free reducer key; the flagging join carries ONLY
    shingles with ndocs >= 2 on the build side (boilerplate shingles are
    hot keys — AQE skew-split applies); run grouping is a per-doc window
    (pos - row_number), sorted within the doc partition only.
    """
    from glirel_spark.functions.barrier import materialized
    from pyspark.sql import Window as W

    b, p = config.SHINGLE_BASE, config.HASH_P
    d = docs_tokens.withColumn(
        "_th", materialized(F.transform(F.col("tokens"), _char_hash))
    )
    th = F.col("_th")
    n = F.size(th)
    sh_arr = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: (((th[i] % p) * b + th[i + 1]) % p * b + th[i + 2]) % p,
        ),
    ).otherwise(F.array().cast("array<long>"))
    d = d.withColumn("_psh", materialized(sh_arr))
    stream = d.select("doc_id", F.posexplode("_psh").alias("pos", "sh"))
    npos = d.select("doc_id", F.size("_psh").cast("long").alias("n_pos"))
    nd = (
        stream.select("sh", "doc_id").distinct()
        .groupBy("sh").agg(F.count("*").alias("ndocs"))
    )
    dup = stream.join(nd.filter(F.col("ndocs") >= 2).select("sh"), "sh")
    grp = (F.col("pos") - F.row_number().over(
        W.partitionBy("doc_id").orderBy("pos")
    )).alias("grp")
    runlen = (
        dup.select("doc_id", "pos")
        .select("doc_id", "pos", grp)
        .groupBy("doc_id", "grp")
        .agg(F.count("*").cast("long").alias("rl"))
    )
    return (
        runlen.groupBy("doc_id")
        .agg(
            F.sum("rl").cast("long").alias("n_dup_positions"),
            F.count("*").cast("long").alias("n_runs"),
            F.max("rl").cast("long").alias("max_run"),
        )
        .join(npos, "doc_id")
        .select(
            "doc_id", "n_dup_positions", "n_runs", "max_run",
            (F.col("max_run") + F.lit(k - 1)).cast("long").alias("max_dup_tokens"),
            (
                F.col("n_dup_positions").cast("double")
                / F.col("n_pos").cast("double")
            ).alias("dup_cover_ratio"),
        )
    )


def minhash_hard_negatives(
    docs_tokens: DataFrame,
    max_jaccard: float = 0.2,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Contrastive-pair mining, the negative side: document pairs that
    COLLIDED in an LSH band (similar enough to trip the sketch — the
    hardest kind of negative) yet verify to LOW true shingle overlap
    (jaccard < max_jaccard). The standard hard-negative feed for
    training retrieval/embedding models: random negatives are too easy,
    band-collision survivors that are provably not near-dups sit right
    at the decision boundary.

    Pure composition of the existing sketch machinery — same cached
    shingle pass, same band join, same exact verify — with the verify
    filter inverted, so the 100 TB story is identical to
    minhash_neardups_arr (never all-pairs, candidates only).
    """
    if shingled is None:
        shingled = with_shingle_array(docs_tokens)
    sig = minhash_signature_arr(docs_tokens, shingled=shingled)
    cands = candidate_pairs(lsh_bands(sig))
    return jaccard_verify_arr(cands, shingled).filter(
        F.col("jaccard") < max_jaccard
    )


# Bloom geometry for the decontamination filter: m bits, k=3 affine
# probes off the shingle hash (the first 3 minhash permutations).
BLOOM_M = 16384
BLOOM_K = 3


def bloom_decontaminate(
    shingled: DataFrame, eval_mod: int = config.DECONTAM_EVAL_MOD
) -> DataFrame:
    """Decontamination through a BLOOM FILTER of the eval shingle set —
    the constant-size broadcast a multi-benchmark sweep ships at 100 TB
    when the exact shingle array (decontaminate) outgrows the plan: m
    bits cover ANY number of eval shingles. One-sided by construction
    (bloom_contaminated >= exact contaminated row-wise); this query
    emits BOTH flags plus is_fp so the false-positive cost of the m/k
    choice is measurable, with the exact twin as the audit.

    All-integer: probe positions are affine mod-m hashes of the shingle
    hash; the filter itself is the distinct position set aggregated to
    one sorted array row and broadcast (same Catalyst broadcast-variable
    form as decontaminate — at production scale, a fixed m-bit binary
    column). Membership = all k probe positions present.
    """
    did = F.col("doc_id").cast("long")
    did = F.when(
        F.assert_true(
            did.isNotNull(),
            "bloom_decontaminate: doc_id must cast to long (integer-id "
            "corpora); for content-addressed ids supply an explicit eval split",
        ).isNull(),
        did,
    )
    is_eval = (did % eval_mod) == 0

    def probes(sh_col):
        return F.array(
            *[
                ((sh_col * config.MINHASH_AB[i][0] + config.MINHASH_AB[i][1])
                 % config.HASH_P) % BLOOM_M
                for i in range(BLOOM_K)
            ]
        )

    bits = (
        shingled.filter(is_eval)
        .select(F.explode("_sh").alias("sh"))
        .select(F.explode(probes(F.col("sh"))).alias("bit"))
        .distinct()
        .agg(F.sort_array(F.collect_list("bit")).alias("_bits"))
    )
    # a shingle is bloom-positive iff ALL k probe bits are set
    sh_hit = F.filter(
        F.col("_sh"),
        lambda sh: F.forall(
            probes(sh), lambda b: F.array_contains(F.col("_bits"), b)
        ),
    )
    ex_hits = F.size(F.array_intersect(F.col("_sh"), F.col("_eval_sh")))
    ev_arr = (
        shingled.filter(is_eval)
        .select(F.explode("_sh").alias("sh"))
        .distinct()
        .agg(F.sort_array(F.collect_list("sh")).alias("_eval_sh"))
    )
    bloom_n = F.size(sh_hit)
    return (
        shingled.filter(~is_eval)
        .join(F.broadcast(bits))
        .join(F.broadcast(ev_arr))
        .select(
            "doc_id",
            bloom_n.cast("int").alias("n_bloom_hits"),
            (bloom_n > 0).alias("bloom_contaminated"),
            (ex_hits > 0).alias("contaminated"),
            ((bloom_n > 0) & ~(ex_hits > 0)).alias("is_fp"),
        )
    )


def allpairs_neardups(
    docs_tokens: DataFrame,
    t_num: int = config.ALLPAIRS_T_NUM,
    t_den: int = config.ALLPAIRS_T_DEN,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join by prefix filtering (Bayardo et
    al. 2007 AllPairs / Xiao et al. PPJoin family) — the no-LSH
    complement to minhash_neardups_arr: ZERO false negatives by
    construction, same output contract (doc1, doc2, inter, un,
    jaccard), threshold as the exact rational t_num/t_den.

    Prefix-filter lemma: order every doc's shingles by ONE global total
    order (ascending document frequency, ties by value — rare first);
    if J(A,B) >= t then |A∩B| >= ceil(t·|A|), and a B missing ALL of
    A's first |A| - ceil(t·|A|) + 1 elements could share at most
    ceil(t·|A|) - 1 — contradiction. So every qualifying pair shares a
    PREFIX element, and the candidate join runs on prefixes only.

    Scale shape: the rare-first order is the scale mechanism — the
    corpus's hottest shingles (boilerplate) sort to the SUFFIX and
    never enter the candidate join, so the prefix index's per-key
    fanout is bounded by how many docs share a *rare* shingle. One df
    aggregation (map-side combined), one per-doc ranking window
    (per-key frames), prefix equi-join, and the exact verify runs on
    candidates only (shared jaccard_verify_arr). The threshold test is
    integer cross-multiplication (inter * t_den >= un * t_num) — no
    float boundary.
    """
    from pyspark.sql import Window as W

    if shingled is None:
        shingled = with_shingle_array(docs_tokens)
    sh = shingles_arr(docs_tokens, shingled=shingled)
    dfreq = sh.groupBy("sh").agg(F.count("*").cast("long").alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "sh")
    ranked = (
        sh.join(dfreq, "sh")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count("*").over(W.partitionBy("doc_id")))
    )
    # both sides of the candidate self-join read the prefix index:
    # materialize it once instead of running the ranking window twice
    pref = fixpoint.materialize(
        ranked.filter(
            F.col("rk")
            <= F.col("n") - F.expr(f"({t_num} * n + {t_den} - 1) DIV {t_den}") + 1
        ).select("doc_id", "sh")
    )
    cands = (
        pref.select(F.col("doc_id").alias("doc1"), "sh")
        .join(pref.select(F.col("doc_id").alias("doc2"), "sh"), "sh")
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )
    ver = jaccard_verify_arr(cands, shingled)
    return ver.filter(F.col("inter") * t_den >= F.col("un") * t_num)


def containment_pairs(
    docs_tokens: DataFrame,
    t_num: int = config.CONTAIN_T_NUM,
    t_den: int = config.CONTAIN_T_DEN,
    df_cap: int = config.CONTAIN_DF_CAP,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric containment join: (doc_sub, doc_super) pairs where
    ``|A∩B| / |A| >= t`` — quote/excerpt/subset detection, the
    DIRECTIONAL complement to the symmetric Jaccard dedups (a tweet
    quoted inside an article has tiny Jaccard but containment ~1).

    Prefix filtering adapts to containment: overlap >= ceil(t·|A|)
    forces B to hold one of A's first |A| - ceil(t·|A|) + 1 shingles
    under the global rare-first order, so only the PROBE side is
    prefix-sliced; the index side must carry full postings — capped at
    document frequency <= ``df_cap`` (the standard hot-posting cap:
    boilerplate shingles shared by thousands of docs are dropped from
    the index, the same deliberate blocking miss er_edit_pairs
    documents for first-char blocks; the oracle replays the identical
    cap so the engines agree bit-for-bit).

    Scale shape: probe prefixes are tiny (1-t fraction of each doc);
    the posting join's per-key fanout is bounded by df_cap BY
    CONSTRUCTION — no skew left to handle; verify runs on candidates
    only; the containment test is integer cross-multiplication.
    """
    if shingled is None:
        shingled = with_shingle_array(docs_tokens)
    sh = shingles_arr(docs_tokens, shingled=shingled)
    from pyspark.sql import Window as W

    dfreq = sh.groupBy("sh").agg(F.count("*").cast("long").alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "sh")
    ranked = (
        sh.join(dfreq, "sh")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count("*").over(W.partitionBy("doc_id")))
    )
    pref = ranked.filter(
        F.col("rk")
        <= F.col("n") - F.expr(f"({t_num} * n + {t_den} - 1) DIV {t_den}") + 1
    ).select(F.col("doc_id").alias("doc_sub"), "sh")
    idx = sh.join(dfreq.filter(F.col("df") <= df_cap), "sh").select(
        F.col("doc_id").alias("doc_super"), "sh"
    )
    cands = (
        pref.join(idx, "sh")
        .filter(F.col("doc_sub") != F.col("doc_super"))
        .select("doc_sub", "doc_super")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    s1 = sh.toDF("doc_sub", "sh")
    s2 = sh.toDF("doc_super", "sh")
    inter = (
        cands.join(s1, "doc_sub")
        .join(s2, ["doc_super", "sh"])
        .groupBy("doc_sub", "doc_super")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    return (
        inter.join(sizes.toDF("doc_sub", "n_sub"), "doc_sub")
        .filter(F.col("inter") * t_den >= F.col("n_sub") * t_num)
        .select(
            "doc_sub", "doc_super", "inter", "n_sub",
            F.expr("(inter * 1000) DIV n_sub").alias("containment_milli"),
        )
    )


def split_assign(docs_tokens: DataFrame) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is a pure
    function of the CONTENT fingerprint (fingerprint(), the rolling
    token-stream hash), never of doc_id — so byte-identical documents
    land in the same split by construction, re-ingestion with new ids
    cannot move a document across the boundary, and the assignment is
    resume-safe (same determinism contract as stratified_sample).

    Scale shape: rides the fingerprint pass (one map-side-combined
    fold per doc); the bucket/split columns are codegen CASE
    arithmetic — scan-bound, no extra shuffle.
    """
    tr, va = config.SPLIT_TRAIN_PCT, config.SPLIT_TRAIN_PCT + config.SPLIT_VAL_PCT
    b = F.pmod(F.col("fp"), F.lit(100))
    return fingerprint(docs_tokens).select(
        "doc_id", "fp",
        b.cast("long").alias("bucket"),
        F.when(b < tr, "train").when(b < va, "val").otherwise("test")
        .alias("split"),
    )


def split_leakage(
    docs_tokens: DataFrame, shingled: DataFrame | None = None
) -> DataFrame:
    """Cross-split leakage audit: near-duplicate pairs (the exact
    minhash_neardups relation) whose two sides were assigned to
    DIFFERENT splits — the contamination a content-hash split cannot
    prevent (near-dups hash differently) and every eval pipeline must
    measure before trusting validation numbers. One row per leaked
    pair with both splits and the overlap evidence; a downstream fix
    either drops the eval-side doc or re-assigns whole near-dup
    families (dedup_clusters gives the family relation).

    Scale shape: the pair relation is candidate-bounded (LSH band
    join, never all-pairs); the split relation joins on the pair's doc
    keys — two plain equi-joins on unique ids against a relation with
    exactly one row per doc. No new shuffles beyond the dedup path
    itself; both inputs reuse the shared cached shingle pass.
    """
    pairs = minhash_neardups_arr(docs_tokens, shingled=shingled).select(
        "doc1", "doc2", "inter", "un"
    )
    sa = split_assign(docs_tokens).select("doc_id", "split")
    return (
        pairs.join(sa.toDF("doc1", "split1"), "doc1")
        .join(sa.toDF("doc2", "split2"), "doc2")
        .filter(F.col("split1") != F.col("split2"))
        .select("doc1", "doc2", "split1", "split2", "inter", "un")
    )


def split_assign_safe(
    docs_tokens: DataFrame, shingled: DataFrame | None = None
) -> DataFrame:
    """Family-level split assignment — the FIX for what split_leakage
    measures: every document inherits the split of its near-dup
    family's canonical doc (neardup_clusters root), computed from the
    CANONICAL's content fingerprint. Near-dup pairs share a family by
    the transitive closure, hence a canonical, hence a split — so
    cross-split near-dup leakage is ZERO BY CONSTRUCTION (asserted in
    tests by re-running the audit on this assignment). Singletons
    degrade to plain split_assign (their canonical is themselves).

    Scale shape: clusters iterate only over the edge-node subgraph
    (neardup_clusters); the fingerprint/split relation joins once on
    canonical_id — unique keys, ~1 row each side; shared cached
    shingle pass throughout.
    """
    clusters = neardup_clusters(docs_tokens, shingled=shingled).select(
        "doc_id", "canonical_id"
    )
    sa = split_assign(docs_tokens).select(
        F.col("doc_id").alias("canonical_id"), "split"
    )
    return clusters.join(sa, "canonical_id").select(
        "doc_id", "canonical_id", "split"
    )
