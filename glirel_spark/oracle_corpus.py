"""DuckDB oracle SQL for the corpus-pipeline operators (dedup, text
stats, similarity search, multimodal plumbing, events windowing) —
generated from glirel_spark/config.py constants like oracle.py.
"""

from __future__ import annotations

from glirel_spark import config as c
from glirel_spark.oracle import CTE_TOKENS

# token ids: per-character polynomial hash — shared by every sketch
# (minhash, simhash, fingerprint). Matches corpus_dedup._char_hash /
# with_shingle_array arithmetic exactly; the oracle re-derives the same
# values with joins — plans differ, results must not.
CTE_THASH = f"""
thash AS (
  SELECT doc_id, pos,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(token, ''),
                            ch -> CAST(ascii(ch) AS BIGINT))),
           (a, b) -> (a * {c.SHINGLE_BASE} + b) % {c.HASH_P}) AS tid
  FROM toks
)
"""

CTE_SHINGLES = f"""
shing AS (
  SELECT DISTINCT t0.doc_id,
         (((t0.tid % {c.HASH_P}) * {c.SHINGLE_BASE} + t1.tid)
            % {c.HASH_P} * {c.SHINGLE_BASE} + t2.tid) % {c.HASH_P} AS sh
  FROM thash t0
  JOIN thash t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  JOIN thash t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
)
"""


def _sig_cols() -> str:
    return ",\n         ".join(
        f"min((sh * {a} + {b}) % {c.HASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(c.MINHASH_AB)
    )


CTE_SIG = f"""
sig AS (
  SELECT doc_id,
         {_sig_cols()}
  FROM shing GROUP BY doc_id
)
"""


def _band_selects() -> str:
    r = c.MINHASH_K // c.MINHASH_BANDS
    parts = []
    for band in range(c.MINHASH_BANDS):
        key = "CAST(0 AS BIGINT)"
        for j in range(r):
            key = f"(({key}) * {c.SHINGLE_BASE} + mh{band * r + j}) % {c.HASH_P}"
        parts.append(
            f"SELECT doc_id, {band} AS band, {key} AS band_key FROM sig"
        )
    return "\n  UNION ALL ".join(parts)


CTE_BANDS = f"""
bands AS (
  {_band_selects()}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
"""


def _with(*parts: str) -> str:
    return "WITH " + ",\n".join(p.strip().rstrip(",") for p in parts)


def q_minhash_signatures() -> str:
    cols = ", ".join(f"mh{i}" for i in range(c.MINHASH_K))
    return _with(CTE_TOKENS, CTE_THASH, CTE_SHINGLES, CTE_SIG) + f"\nSELECT doc_id, {cols} FROM sig"


def q_minhash_neardups() -> str:
    return (
        _with(CTE_TOKENS, CTE_THASH, CTE_SHINGLES, CTE_SIG, CTE_BANDS)
        + f"""
, sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shing GROUP BY doc_id),
inters AS (
  SELECT cd.doc1, cd.doc2, CAST(count(*) AS BIGINT) AS inter
  FROM cands cd
  JOIN shing s1 ON s1.doc_id = cd.doc1
  JOIN shing s2 ON s2.doc_id = cd.doc2 AND s2.sh = s1.sh
  GROUP BY cd.doc1, cd.doc2
),
verified AS (
  SELECT cd.doc1, cd.doc2,
         CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
         CAST(z1.n + z2.n - coalesce(i.inter, 0) AS BIGINT) AS un
  FROM cands cd
  LEFT JOIN inters i ON i.doc1 = cd.doc1 AND i.doc2 = cd.doc2
  JOIN sizes z1 ON z1.doc_id = cd.doc1
  JOIN sizes z2 ON z2.doc_id = cd.doc2
)
SELECT doc1, doc2, inter, un, CAST(inter AS DOUBLE) / un AS jaccard
FROM verified WHERE CAST(inter AS DOUBLE) / un >= {c.NEARDUP_JACCARD}"""
    )


def _neardups_comp_cte() -> str:
    """Shared CTE block: verified near-dup pairs -> symmetric edges ->
    recursive reachability -> comp(doc_id, canonical). Used by
    q_dedup_clusters and q_split_assign_safe."""
    return f"""
neardups AS (
  SELECT cd.doc1, cd.doc2
  FROM cands cd
  LEFT JOIN (
    SELECT cd2.doc1, cd2.doc2, CAST(count(*) AS BIGINT) AS inter
    FROM cands cd2
    JOIN shing s1 ON s1.doc_id = cd2.doc1
    JOIN shing s2 ON s2.doc_id = cd2.doc2 AND s2.sh = s1.sh
    GROUP BY cd2.doc1, cd2.doc2
  ) i ON i.doc1 = cd.doc1 AND i.doc2 = cd.doc2
  JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shing GROUP BY doc_id) z1
    ON z1.doc_id = cd.doc1
  JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shing GROUP BY doc_id) z2
    ON z2.doc_id = cd.doc2
  WHERE CAST(coalesce(i.inter, 0) AS DOUBLE)
        / (z1.n + z2.n - coalesce(i.inter, 0)) >= {c.NEARDUP_JACCARD}
),
edges AS (
  SELECT doc1 AS a, doc2 AS b FROM neardups
  UNION ALL SELECT doc2, doc1 FROM neardups
),
reach(src, node) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node AS doc_id, min(src) AS canonical FROM reach GROUP BY node)
"""


def q_dedup_clusters() -> str:
    """Near-dup family resolution: transitive closure over the verified
    near-dup pairs via a recursive reachability CTE (min reachable
    doc_id = the canonical), singletons default to themselves. Mirrors
    corpus_dedup.neardup_clusters (min-label propagation fixpoint ==
    min over the connected component)."""
    base = _with(
        CTE_TOKENS, CTE_THASH, CTE_SHINGLES, CTE_SIG, CTE_BANDS,
        _neardups_comp_cte(),
    )
    return (
        base.replace("WITH ", "WITH RECURSIVE ", 1)
        + """
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
       coalesce(c2.canonical, CAST(d.doc_id AS VARCHAR)) AS canonical_id,
       coalesce(c2.canonical, CAST(d.doc_id AS VARCHAR)) = CAST(d.doc_id AS VARCHAR)
         AS is_canonical
FROM documents d LEFT JOIN comp c2 ON c2.doc_id = CAST(d.doc_id AS VARCHAR)"""
    )


def _simhash_sum_cols() -> str:
    return ",\n         ".join(
        f"sum(cnt * (((tid * {a} + {b}) % {c.HASH_P} % 2) * 2 - 1)) AS s{i}"
        for i, (a, b) in enumerate(c.SIMHASH_AB)
    )


def _simhash_value() -> str:
    return " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(c.SIMHASH_BITS)
    )


CTE_SIMHASH = f"""
tidc AS (
  SELECT doc_id, tid, count(*) AS cnt FROM thash GROUP BY doc_id, tid
),
sums AS (
  SELECT doc_id,
         {_simhash_sum_cols()}
  FROM tidc GROUP BY doc_id
),
simsig AS (
  SELECT doc_id, CAST({_simhash_value()} AS BIGINT) AS simhash FROM sums
)
"""


def q_simhash() -> str:
    return _with(CTE_TOKENS, CTE_THASH, CTE_SIMHASH) + "\nSELECT doc_id, simhash FROM simsig"


def q_simhash_neardups() -> str:
    n_chunks = c.SIMHASH_MAX_HAMMING + 1
    chunk_bits = c.SIMHASH_BITS // n_chunks
    blocks = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {ci} AS ck,"
        f" (simhash >> {ci * chunk_bits}) % {1 << chunk_bits} AS ckey FROM simsig"
        for ci in range(n_chunks)
    )
    return (
        _with(CTE_TOKENS, CTE_THASH, CTE_SIMHASH)
        + f"""
, blocks AS (
  {blocks}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
         a.simhash AS sim1, b.simhash AS sim2
  FROM blocks a JOIN blocks b
    ON a.ck = b.ck AND a.ckey = b.ckey AND a.doc_id < b.doc_id
)
SELECT doc1, doc2, CAST(bit_count(xor(sim1, sim2)) AS INT) AS hamming
FROM cands WHERE bit_count(xor(sim1, sim2)) <= {c.SIMHASH_MAX_HAMMING}"""
    )


CTE_FP = f"""
fps AS (
  SELECT doc_id,
         list_reduce(list(tid ORDER BY pos),
                     (a, b) -> (a * {c.FINGERPRINT_BASE} + b) % {c.HASH_P}) AS fp
  FROM thash GROUP BY doc_id
)
"""


def q_fingerprint() -> str:
    return _with(CTE_TOKENS, CTE_THASH, CTE_FP) + "\nSELECT doc_id, fp FROM fps"


def q_exact_dedup() -> str:
    return (
        _with(CTE_TOKENS, CTE_THASH, CTE_FP)
        + "\nSELECT fp, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keeper"
        " FROM fps GROUP BY fp"
    )


# ---------------------------------------------------------------------------
# Text stats
# ---------------------------------------------------------------------------

def q_doc_quality() -> str:
    stop = ", ".join(f"'{s}'" for s in c.STOPWORDS)
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ({stop}))) AS BIGINT) AS n_stop
  FROM documents
)
SELECT doc_id, n_chars, n_tokens, n_distinct,
       CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
       CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_token_len,
       (CAST(n_distinct AS DOUBLE) / n_tokens)
         * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) AS quality_score
FROM base"""


def q_doc_gopher_rules() -> str:
    """Mirror of textstats.doc_gopher_rules: same single-space split,
    cross-multiplied integer rules, list-local top-word count."""
    stop = ", ".join(f"'{s}'" for s in c.GOPHER_STOPWORDS)
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         string_split(text, ' ') AS s,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(s) AS BIGINT) AS n_words,
         n_chars - (CAST(len(s) AS BIGINT) - 1) AS sum_word_chars,
         CAST(len(list_filter(s, t -> regexp_matches(t, '[a-zA-Z]')))
              AS BIGINT) AS n_alpha_words,
         CAST(len(list_intersect(list_distinct(s), [{stop}]))
              AS BIGINT) AS n_stop_kinds,
         CAST(list_max(list_transform(list_distinct(s),
              w -> len(list_filter(s, t -> t = w)))) AS BIGINT) AS top_word_n
  FROM base
)
SELECT doc_id, n_words, sum_word_chars, n_alpha_words, n_stop_kinds,
       top_word_n,
       (n_words >= {c.GOPHER_MIN_WORDS} AND n_words <= {c.GOPHER_MAX_WORDS})
         AS r_word_count,
       (3 * n_words <= sum_word_chars AND sum_word_chars <= 10 * n_words)
         AS r_mean_len,
       (5 * n_alpha_words >= 4 * n_words) AS r_alpha,
       (n_stop_kinds >= 2) AS r_stopwords,
       (5 * top_word_n <= n_words) AS r_repetition,
       ((n_words >= {c.GOPHER_MIN_WORDS} AND n_words <= {c.GOPHER_MAX_WORDS})
        AND (3 * n_words <= sum_word_chars AND sum_word_chars <= 10 * n_words)
        AND (5 * n_alpha_words >= 4 * n_words)
        AND (n_stop_kinds >= 2)
        AND (5 * top_word_n <= n_words)) AS pass_gopher
FROM m"""


def q_semantic_dedup(min_cosine: float = c.SEMDEDUP_MIN_COSINE) -> str:
    """Mirror of similarity.semantic_dedup: trained-centroid cell
    assignment (same repr-round-tripped doubles as the kmeans oracle),
    within-cell pairwise cosine, drop = exists lower-id same-cell
    vector at >= min_cosine. Dispatches on corpus signature per sf."""
    from glirel_spark.operators import kmeans
    from glirel_spark.oracle import _GOLDEN_SIGS

    dot_c = _DOT.format(a="e.embedding", b="c.cvec")
    dot_ab = _DOT.format(a="a.embedding", b="b.embedding")
    ctes = [CTE_EMBN.strip().rstrip(",")]
    arms = []
    for i, (sf, sig) in enumerate(_GOLDEN_SIGS.items()):
        cents = kmeans.fit_centroids(f"/root/testdata/{sf}")
        rows = ",\n    ".join(
            f"({j}, [{', '.join(repr(v) for v in cc)}])"
            for j, cc in enumerate(cents)
        )
        ctes.append(f"""sdcents_{i}(cell, cvec) AS (VALUES
    {rows}),
sdassign_{i} AS (
  SELECT vec_id, embedding, nrm, cell FROM (
    SELECT e.vec_id, e.embedding, e.nrm, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_c} DESC, c.cell ASC) AS pr
    FROM embn e CROSS JOIN sdcents_{i} c
  ) WHERE pr = 1
),
sddrop_{i} AS (
  SELECT DISTINCT b.vec_id
  FROM sdassign_{i} a JOIN sdassign_{i} b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {dot_ab} / (a.nrm * b.nrm) >= CAST({min_cosine!r} AS DOUBLE)
)""")
        arms.append(
            f"SELECT s.vec_id, CAST(s.cell AS INT) AS cell,\n"
            f"       d.vec_id IS NULL AS is_kept\n"
            f"FROM sdassign_{i} s LEFT JOIN sddrop_{i} d "
            f"ON d.vec_id = s.vec_id\n"
            f"WHERE (SELECT sg.s FROM sig sg) = {sig}"
        )
    sig_cte = "sig AS (SELECT sum(length(text)) AS s FROM documents)"
    return (
        "WITH " + ",\n".join([sig_cte] + ctes) + "\n" + "\nUNION ALL\n".join(arms)
    )


def q_lang_id() -> str:
    """Mirror of textstats.lang_id: integer weighted bigram counts, one
    final division; ties -> alphabetically-first language."""
    from glirel_spark.operators.textstats import LANG_PROFILES

    langs = sorted(LANG_PROFILES)

    def score(lang: str) -> str:
        terms = " + ".join(
            f"{w} * CAST((length(text) - length(replace(text, '{bg}', ''))) / 2 AS BIGINT)"
            for bg, w in LANG_PROFILES[lang].items()
        )
        return f"CAST({terms} AS BIGINT)"

    score_cols = ",\n         ".join(f"{score(lg)} AS s_{lg}" for lg in langs)
    gm = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    pred_cases = " ".join(f"WHEN s_{lg} = gm THEN '{lg}'" for lg in langs)
    return f"""
WITH s AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         {score_cols},
         CAST(greatest(length(text) - 1, 1) AS BIGINT) AS nb
  FROM documents
),
g AS (SELECT *, {gm} AS gm FROM s)
SELECT doc_id,
       CASE WHEN gm <= 0 THEN 'und' {pred_cases} END AS lang_pred,
       CASE WHEN gm <= 0 THEN 0.0
            ELSE CAST(gm AS DOUBLE) / CAST(nb * 10 AS DOUBLE) END AS lang_score
FROM g"""


def q_corpus_sample() -> str:
    """Mirror of textstats.stratified_sample: polynomial char hash of
    'sample:v1:<doc_id>:<lang>' mod HASH_P, bucket = hash % 10000, keep
    iff bucket < per-language rate (basis points)."""
    from glirel_spark.operators.textstats import (
        SAMPLE_DEFAULT_BPS,
        SAMPLE_RATES_BPS,
        _SAMPLE_SALT,
    )

    whens = " ".join(
        f"WHEN '{lg}' THEN {bps}" for lg, bps in sorted(SAMPLE_RATES_BPS.items())
    )
    return f"""
WITH h AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
         CAST(list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(
               string_split('{_SAMPLE_SALT}' || CAST(doc_id AS VARCHAR) || ':' || lang, ''),
               ch -> CAST(ascii(ch) AS BIGINT))),
           (a, b) -> (a * {c.SHINGLE_BASE} + b) % {c.HASH_P}) % 10000 AS INT) AS bucket,
         CAST(CASE lang {whens} ELSE {SAMPLE_DEFAULT_BPS} END AS INT) AS rate_bps
  FROM documents
)
SELECT doc_id, lang, bucket, rate_bps FROM h WHERE bucket < rate_bps"""


def q_token_counts() -> str:
    return """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
                          t -> CAST(ceil(length(t) / 4.0) AS BIGINT))),
         (a, b) -> a + b) AS BIGINT) AS bpe_tokens
FROM documents"""


def q_doc_surprisal() -> str:
    """Mirror of textstats.doc_surprisal: unigram counts + corpus total,
    integer bit-length surprisal, one final division."""
    return """
WITH tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(length(bin(tt.total)) - length(bin(c.cnt))) AS BIGINT)
         AS sum_surprisal_bits,
       CAST(sum(length(bin(tt.total)) - length(bin(c.cnt))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mean_surprisal_bits
FROM tok t JOIN counts c ON c.token = t.token CROSS JOIN tot tt
GROUP BY t.doc_id"""


def q_chunk_dedup() -> str:
    """Mirror of corpus_dedup.chunk_dedup: same token hashes (thash),
    chunk fold replayed with an ORDER BY pos list_reduce, keeper =
    first (doc_id, chunk_idx) per hash via row_number."""
    w, b, p = c.CHUNK_W, c.SHINGLE_BASE, c.HASH_P
    return (
        _with(CTE_TOKENS, CTE_THASH)
        + f""",
chunks AS (
  SELECT doc_id, CAST(pos // {w} AS INT) AS chunk_idx,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT), list(tid ORDER BY pos)),
           (a, t) -> (a * {b} + t) % {p}) AS ch
  FROM thash GROUP BY doc_id, pos // {w}
),
occ AS (
  SELECT doc_id, chunk_idx, ch,
         count(*) OVER (PARTITION BY ch) AS n_occ,
         row_number() OVER (PARTITION BY ch ORDER BY doc_id, chunk_idx)
           AS _rk
  FROM chunks
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(sum(CASE WHEN n_occ = 1 OR _rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept_chunks,
       CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS dup_ratio
FROM occ GROUP BY doc_id"""
    )


def q_dup_spans() -> str:
    """Mirror of corpus_dedup.dup_spans: positional shingles via
    offset self-joins, cross-doc support, gaps-and-islands run
    grouping, one final division."""
    k, b, p = c.SHINGLE_K, c.SHINGLE_BASE, c.HASH_P
    return (
        _with(CTE_TOKENS, CTE_THASH)
        + f""",
pos_sh AS (
  SELECT t0.doc_id, t0.pos,
         (((t0.tid % {p}) * {b} + t1.tid) % {p} * {b} + t2.tid) % {p} AS sh
  FROM thash t0
  JOIN thash t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  JOIN thash t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
),
nd AS (
  SELECT sh FROM pos_sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
),
dup AS (
  SELECT ps.doc_id, ps.pos FROM pos_sh ps JOIN nd ON nd.sh = ps.sh
),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
),
runlen AS (
  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS rl
  FROM runs GROUP BY doc_id, grp
),
npos AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos FROM pos_sh GROUP BY doc_id
)
SELECT r.doc_id,
       CAST(sum(rl) AS BIGINT) AS n_dup_positions,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(rl) AS BIGINT) AS max_run,
       CAST(max(rl) + {k - 1} AS BIGINT) AS max_dup_tokens,
       CAST(sum(rl) AS DOUBLE) / CAST(any_value(n_pos) AS DOUBLE)
         AS dup_cover_ratio
FROM runlen r JOIN npos ON npos.doc_id = r.doc_id
GROUP BY r.doc_id"""
    )


def q_dsir_weights() -> str:
    """Mirror of corpus_dedup.dsir_weights: hashed-bigram buckets from
    the same thash stream, per-bucket target/raw counts, integer
    bit-length log-ratio, one final division."""
    nb, b, p = c.DSIR_BUCKETS, c.SHINGLE_BASE, c.HASH_P
    return (
        _with(CTE_TOKENS, CTE_THASH)
        + f""",
lang_map AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang FROM documents
),
bg AS (
  SELECT a.doc_id, lm.lang,
         ((a.tid % {p}) * {b} + bb.tid) % {p} % {nb} AS bucket
  FROM thash a
  JOIN thash bb ON bb.doc_id = a.doc_id AND bb.pos = a.pos + 1
  JOIN lang_map lm ON lm.doc_id = a.doc_id
),
cr AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM bg GROUP BY bucket
),
ct AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM bg
  WHERE lang = '{c.DSIR_TARGET_LANG}' GROUP BY bucket
),
counts AS (
  SELECT cr.bucket, cr.cr, CAST(coalesce(ct.ct, 0) AS BIGINT) AS ct
  FROM cr LEFT JOIN ct ON ct.bucket = cr.bucket
),
tot AS (
  SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt
  FROM counts
),
wt AS (
  SELECT bucket,
         CAST((length(bin(ct + 1)) - length(bin(tt + {nb})))
            - (length(bin(cr + 1)) - length(bin(tr + {nb}))) AS BIGINT)
           AS w
  FROM counts CROSS JOIN tot
)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(w) AS BIGINT) AS logratio_bits,
       CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS mean_logratio_bits
FROM bg JOIN wt ON wt.bucket = bg.bucket
GROUP BY bg.doc_id"""
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
)

CTE_EMBN = f"""
embn AS (
  SELECT vec_id, embedding,
         sqrt({_DOT.format(a='embedding', b='embedding')}) AS nrm
  FROM embeddings
)
"""


def q_ann_topk() -> str:
    dot = _DOT.format(a="q.q_emb", b="e.embedding")
    return (
        "WITH " + CTE_EMBN.strip().rstrip(",")
        + f"""
, q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
  FROM embn WHERE vec_id < {c.ANN_N_QUERIES}
),
scoredv AS (
  SELECT q.q_id, e.vec_id AS n_id,
         {dot} / (q.q_nrm * e.nrm) AS cosine
  FROM embn e CROSS JOIN q WHERE e.vec_id <> q.q_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS INT) AS rk
  FROM scoredv
)
SELECT q_id, n_id, cosine, rk FROM ranked WHERE rk <= {c.ANN_TOP_K}"""
    )


def _cell_expr(col: str) -> str:
    bits = c.IVF_N_CELLS.bit_length() - 1
    return " + ".join(
        f"(CASE WHEN {col}[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )


def q_ann_topk_ivf() -> str:
    """IVF path is deterministic (sign-bit cells + exact rank within the
    probed cell), so it gets a full value oracle too."""
    dot = _DOT.format(a="q.q_emb", b="e.embedding")
    return (
        "WITH " + CTE_EMBN.strip().rstrip(",")
        + f"""
, cells AS (
  SELECT vec_id, embedding, nrm, {_cell_expr('embedding')} AS cell FROM embn
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, cell
  FROM cells WHERE vec_id < {c.ANN_N_QUERIES}
),
scoredv AS (
  SELECT q.q_id, e.vec_id AS n_id,
         {dot} / (q.q_nrm * e.nrm) AS cosine
  FROM cells e JOIN q ON e.cell = q.cell AND e.vec_id <> q.q_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS INT) AS rk
  FROM scoredv
)
SELECT q_id, n_id, cosine, rk FROM ranked WHERE rk <= {c.ANN_TOP_K}"""
    )


def q_linked_triples_fuzzy() -> str:
    """Composition twin: exact-linked triples, with Q:surface: fallback
    endpoints replaced by the surface's best LSH candidate (jaccard
    desc, alias asc, canonical_id asc — the same total order as
    linking.best_fuzzy_alias)."""
    from glirel_spark import oracle

    return f"""
WITH lt AS (SELECT * FROM ({oracle.q_linked_triples()})),
lc AS (SELECT * FROM ({q_link_candidates()})),
best AS (
  SELECT surface, canonical_id AS fuzzy_id FROM (
    SELECT *, row_number() OVER (PARTITION BY surface
        ORDER BY jaccard DESC, alias ASC, canonical_id ASC) AS rn
    FROM lc
  ) WHERE rn = 1
)
SELECT lt.doc_id,
       coalesce(bs.fuzzy_id, lt.subj) AS subj,
       lt.pred,
       coalesce(bo.fuzzy_id, lt.obj) AS obj,
       lt.prob
FROM lt
LEFT JOIN best bs ON lt.subj = 'Q:surface:' || bs.surface
LEFT JOIN best bo ON lt.obj = 'Q:surface:' || bo.surface"""


def q_corpus_stats() -> str:
    """ROLLUP twin; GROUPING() bitmask matches Spark's grouping_id()
    (first column = most significant bit in both engines)."""
    return """SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(GROUPING(lang, source) AS INT) AS gid
FROM documents GROUP BY ROLLUP(lang, source)"""


def q_decontaminate() -> str:
    """Decontamination oracle: DuckDB recomputes the eval shingle set
    itself (no literals), then counts shared distinct shingles per
    training doc — including zero-shingle docs via the LEFT JOIN from
    the documents universe."""
    mod = c.DECONTAM_EVAL_MOD
    return _with(CTE_TOKENS, CTE_THASH, CTE_SHINGLES) + f""",
ev AS (
  SELECT DISTINCT sh FROM shing WHERE CAST(doc_id AS BIGINT) % {mod} = 0
),
hits AS (
  SELECT s.doc_id, count(*) AS n
  FROM shing s JOIN ev ON s.sh = ev.sh
  WHERE CAST(s.doc_id AS BIGINT) % {mod} <> 0
  GROUP BY s.doc_id
)
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
       CAST(coalesce(h.n, 0) AS INT) AS n_hits,
       coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON CAST(d.doc_id AS VARCHAR) = h.doc_id
WHERE CAST(d.doc_id AS BIGINT) % {mod} <> 0"""


def q_doc_repetition() -> str:
    """Duplicate-shingle fraction; total windows derived from the raw
    token count, distinct from the shingle CTE, LEFT JOIN keeps docs
    with no windows (n_shingles 0, frac 0.0)."""
    k = c.SHINGLE_K
    return _with(CTE_TOKENS, CTE_THASH, CTE_SHINGLES) + f""",
nd AS (
  SELECT doc_id, count(*) AS n_distinct FROM shing GROUP BY doc_id
),
tot AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         greatest(len(string_split(text, ' ')) - {k - 1}, 0) AS n_shingles
  FROM documents
)
SELECT t.doc_id,
       CAST(t.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(nd.n_distinct, 0) AS BIGINT) AS n_distinct_shingles,
       CASE WHEN t.n_shingles > 0
            THEN 1.0 - CAST(coalesce(nd.n_distinct, 0) AS DOUBLE)
                       / CAST(t.n_shingles AS DOUBLE)
            ELSE 0.0 END AS dup_shingle_frac
FROM tot t LEFT JOIN nd ON t.doc_id = nd.doc_id"""


def q_ann_topk_kmeans(corpus_probe: int = 1) -> str:
    """Trained-IVF (k-means) ANN oracle. The coarse quantizer fit is
    driver-side and deterministic (operators/kmeans.fit_centroids), so
    both engines share the SAME centroid doubles (repr round-trip);
    DuckDB then independently recomputes cell assignment, multi-probe
    selection, the candidate join, and the cosine rank. The centroids
    depend on which sf's embeddings are registered, so the query
    dispatches on the documents-corpus signature like q_triples_neural.
    ``corpus_probe>1`` mirrors the multi-assignment index (each vector
    under its top-A cells; candidates deduped before ranking).
    """
    from glirel_spark.operators import kmeans
    from glirel_spark.oracle import _GOLDEN_SIGS

    dot_c = _DOT.format(a="e.embedding", b="c.cvec")
    dot_q = _DOT.format(a="q.q_emb", b="e.embedding")
    ctes = [CTE_EMBN.strip().rstrip(",")]
    arms = []
    for i, (sf, sig) in enumerate(_GOLDEN_SIGS.items()):
        cents = kmeans.fit_centroids(f"/root/testdata/{sf}")
        rows = ",\n    ".join(
            f"({j}, [{', '.join(repr(v) for v in c)}])"
            for j, c in enumerate(cents)
        )
        ctes.append(
            f"""cents_{i}(cell, cvec) AS (VALUES
    {rows}),
probes_{i} AS (
  SELECT e.vec_id, e.embedding, e.nrm, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {dot_c} DESC, c.cell ASC) AS pr
  FROM embn e CROSS JOIN cents_{i} c
),
assign_{i} AS (SELECT vec_id, embedding, nrm, cell FROM probes_{i} WHERE pr <= {corpus_probe}),
q_{i} AS (
  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, cell
  FROM probes_{i} WHERE vec_id < {c.ANN_N_QUERIES} AND pr <= {c.IVF_KM_NPROBE}
),
cand_{i} AS (
  SELECT DISTINCT q.q_id, e.vec_id AS n_id,
         {dot_q} / (q.q_nrm * e.nrm) AS cosine
  FROM assign_{i} e JOIN q_{i} q ON e.cell = q.cell AND e.vec_id <> q.q_id
),
ranked_{i} AS (
  SELECT q_id, n_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, n_id ASC) AS INT) AS rk
  FROM cand_{i}
)"""
        )
        arms.append(
            f"SELECT q_id, n_id, cosine, rk FROM ranked_{i}\n"
            f"WHERE rk <= {c.ANN_TOP_K} AND (SELECT s FROM sig) = {sig}"
        )
    sig_cte = "sig AS (SELECT sum(length(text)) AS s FROM documents)"
    return (
        "WITH " + ",\n".join([sig_cte] + ctes) + "\n" + "\nUNION ALL\n".join(arms)
    )


def _pq_cte_arm(i: int, sf: str) -> str:
    """Shared per-sf CTE chain for the PQ oracles: inlined codebooks ->
    codes (argmin-L2, ties -> smallest code) -> per-query LUT -> ADC
    score fold -> pq_score ranking (rank_{i}). Every fold has the same
    fixed evaluation order as the Spark expressions, so pq_score is
    bit-identical, not just the ranking."""
    from glirel_spark.operators import pq

    books = pq.fit_pq(f"/root/testdata/{sf}")
    m, ks, ds = len(books), len(books[0]), len(books[0][0])

    # Each element CAST('..' AS DOUBLE): bare float literals parse as
    # DECIMAL, and a DECIMAL list unifies to one common scale —
    # rescaling can drop the 17th digit (1-ulp drift). String -> DOUBLE
    # is a single correctly-rounded conversion, so the inlined codebook
    # is bit-identical to the python floats.
    def _dlist(vals):
        return "[" + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in vals) + "]"

    rows = ",\n    ".join(
        f"({j}, {cc}, {_dlist(books[j][cc])})"
        for j in range(m) for cc in range(ks)
    )
    return f"""cb_{i}(j, c, cvec) AS (VALUES
    {rows}),
ne_{i} AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ne
  FROM embn
),
dist_{i} AS (
  SELECT n.vec_id, b.j, b.c,
         list_reduce(list_transform(range(1, {ds + 1}), i2 ->
           (n.ne[b.j * {ds} + i2] - b.cvec[i2])
           * (n.ne[b.j * {ds} + i2] - b.cvec[i2])), (x, y) -> x + y) AS d2
  FROM ne_{i} n CROSS JOIN cb_{i} b
),
code_{i} AS (
  SELECT vec_id, j, c FROM (
    SELECT vec_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2 ASC, c ASC) AS rn
    FROM dist_{i}
  ) WHERE rn = 1
),
qlut_{i} AS (
  SELECT n.vec_id AS q_id, b.j, b.c,
         list_reduce(list_transform(range(1, {ds + 1}), i2 ->
           n.ne[b.j * {ds} + i2] * b.cvec[i2]), (x, y) -> x + y) AS v
  FROM ne_{i} n CROSS JOIN cb_{i} b
  WHERE n.vec_id < {c.ANN_N_QUERIES}
),
sc_{i} AS (
  SELECT q.q_id, cd.vec_id AS n_id,
         list_reduce(list(q.v ORDER BY q.j), (x, y) -> x + y) AS pq_score
  FROM code_{i} cd JOIN qlut_{i} q ON q.j = cd.j AND q.c = cd.c
  WHERE cd.vec_id <> q.q_id
  GROUP BY q.q_id, cd.vec_id
),
rank_{i} AS (
  SELECT q_id, n_id, pq_score,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY pq_score DESC, n_id ASC) AS INT) AS rk
  FROM sc_{i}
)"""


def q_ann_topk_pq() -> str:
    """Pure ADC top-k: compressed-domain scores ARE the result."""
    from glirel_spark.oracle import _GOLDEN_SIGS

    ctes = [CTE_EMBN.strip().rstrip(",")]
    arms = []
    for i, (sf, sig) in enumerate(_GOLDEN_SIGS.items()):
        ctes.append(_pq_cte_arm(i, sf))
        arms.append(
            f"SELECT q_id, n_id, pq_score, rk FROM rank_{i}\n"
            f"WHERE rk <= {c.ANN_TOP_K} AND (SELECT s FROM sig) = {sig}"
        )
    sig_cte = "sig AS (SELECT sum(length(text)) AS s FROM documents)"
    return (
        "WITH " + ",\n".join([sig_cte] + ctes) + "\n" + "\nUNION ALL\n".join(arms)
    )


def q_ann_topk_pq_rerank(shortlist: int = 50) -> str:
    """ADC shortlist -> exact-cosine re-rank (pq.pq_topk_rerank)."""
    from glirel_spark.oracle import _GOLDEN_SIGS

    dot_q = _DOT.format(a="q.q_emb", b="e.embedding")
    ctes = [CTE_EMBN.strip().rstrip(",")]
    arms = []
    for i, (sf, sig) in enumerate(_GOLDEN_SIGS.items()):
        ctes.append(_pq_cte_arm(i, sf))
        ctes.append(f"""short_{i} AS (
  SELECT q_id, n_id FROM rank_{i} WHERE rk <= {shortlist}
),
qraw_{i} AS (
  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
  FROM embn WHERE vec_id < {c.ANN_N_QUERIES}
),
rcos_{i} AS (
  SELECT s.q_id, s.n_id, {dot_q} / (q.q_nrm * e.nrm) AS cosine
  FROM short_{i} s
  JOIN embn e ON e.vec_id = s.n_id
  JOIN qraw_{i} q ON q.q_id = s.q_id
),
rrank_{i} AS (
  SELECT q_id, n_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, n_id ASC) AS INT) AS rk
  FROM rcos_{i}
)""")
        arms.append(
            f"SELECT q_id, n_id, cosine, rk FROM rrank_{i}\n"
            f"WHERE rk <= {c.ANN_TOP_K} AND (SELECT s FROM sig) = {sig}"
        )
    sig_cte = "sig AS (SELECT sum(length(text)) AS s FROM documents)"
    return (
        "WITH " + ",\n".join([sig_cte] + ctes) + "\n" + "\nUNION ALL\n".join(arms)
    )


def q_ann_topk_ivfpq(n_probe: int = c.IVF_KM_NPROBE, shortlist: int = 50) -> str:
    """IVF-PQ composition: trained-k-means cell probe (q_ann_topk_kmeans
    semantics) restricting the candidate set, ADC scoring via the PQ
    core CTEs (code_{i}/qlut_{i} from _pq_cte_arm; its rank CTEs go
    unreferenced and unevaluated), then exact-cosine re-rank of the
    shortlist."""
    from glirel_spark.oracle import _GOLDEN_SIGS
    from glirel_spark.operators import kmeans

    def _dlist(vals):
        return "[" + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in vals) + "]"

    dot_c = _DOT.format(a="e.embedding", b="c.cvec")
    dot_q = _DOT.format(a="q.q_emb", b="e.embedding")
    ctes = [CTE_EMBN.strip().rstrip(",")]
    arms = []
    for i, (sf, sig) in enumerate(_GOLDEN_SIGS.items()):
        cents = kmeans.fit_centroids(f"/root/testdata/{sf}")
        crows = ",\n    ".join(
            f"({j}, {_dlist(cc)})" for j, cc in enumerate(cents)
        )
        ctes.append(_pq_cte_arm(i, sf))
        ctes.append(f"""icents_{i}(cell, cvec) AS (VALUES
    {crows}),
iprobes_{i} AS (
  SELECT e.vec_id, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {dot_c} DESC, c.cell ASC) AS pr
  FROM embn e CROSS JOIN icents_{i} c
),
iassign_{i} AS (SELECT vec_id, cell FROM iprobes_{i} WHERE pr = 1),
iq_{i} AS (
  SELECT vec_id AS q_id, cell FROM iprobes_{i}
  WHERE vec_id < {c.ANN_N_QUERIES} AND pr <= {n_probe}
),
icand_{i} AS (
  SELECT q.q_id, a.vec_id AS n_id
  FROM iassign_{i} a JOIN iq_{i} q ON a.cell = q.cell AND a.vec_id <> q.q_id
),
iadc_{i} AS (
  SELECT ca.q_id, ca.n_id,
         list_reduce(list(q.v ORDER BY q.j), (x, y) -> x + y) AS pq_score
  FROM icand_{i} ca
  JOIN code_{i} cd ON cd.vec_id = ca.n_id
  JOIN qlut_{i} q ON q.q_id = ca.q_id AND q.j = cd.j AND q.c = cd.c
  GROUP BY ca.q_id, ca.n_id
),
ishort_{i} AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY pq_score DESC, n_id ASC) AS rr
    FROM iadc_{i}
  ) WHERE rr <= {shortlist}
),
iqraw_{i} AS (
  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
  FROM embn WHERE vec_id < {c.ANN_N_QUERIES}
),
icos_{i} AS (
  SELECT s.q_id, s.n_id, {dot_q} / (q.q_nrm * e.nrm) AS cosine
  FROM ishort_{i} s
  JOIN embn e ON e.vec_id = s.n_id
  JOIN iqraw_{i} q ON q.q_id = s.q_id
),
irank_{i} AS (
  SELECT q_id, n_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, n_id ASC) AS INT) AS rk
  FROM icos_{i}
)""")
        arms.append(
            f"SELECT q_id, n_id, cosine, rk FROM irank_{i}\n"
            f"WHERE rk <= {c.ANN_TOP_K} AND (SELECT s FROM sig) = {sig}"
        )
    sig_cte = "sig AS (SELECT sum(length(text)) AS s FROM documents)"
    return (
        "WITH " + ",\n".join([sig_cte] + ctes) + "\n" + "\nUNION ALL\n".join(arms)
    )


def q_embedding_neardups(min_cosine: float = 0.98) -> str:
    dot = _DOT.format(a="a.embedding", b="b.embedding")
    return (
        "WITH " + CTE_EMBN.strip().rstrip(",")
        + f"""
, cells AS (
  SELECT vec_id, embedding, nrm, {_cell_expr('embedding')} AS cell FROM embn
)
SELECT a.vec_id AS v1, b.vec_id AS v2,
       {dot} / (a.nrm * b.nrm) AS cosine
FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE {dot} / (a.nrm * b.nrm) >= {min_cosine}"""
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (synthetic payload replay)
# ---------------------------------------------------------------------------

def q_media_features() -> str:
    n = c.MEDIA_N_BYTES
    return f"""
WITH chunks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did,
         unnest(range(CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT))) AS i
  FROM documents
),
media AS (
  SELECT doc_id, did, i,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS k
  FROM chunks WHERE (did * 7 + i) % 5 = 0
),
feat AS (
  SELECT doc_id,
         'media://' || doc_id || '/' || CAST(i AS VARCHAR) AS media_ref,
         CAST({n} AS BIGINT) AS n_bytes,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range({n}), j -> (did * 31 + j * 17) % 256)),
            (a, b) -> a + b) AS BIGINT) AS byte_sum,
         CAST(len(list_distinct(list_transform(range({n}),
            j -> (did * 31 + j * 17) % 256))) AS INT) AS n_distinct
  FROM media
)
SELECT doc_id, media_ref, n_bytes, byte_sum,
       CAST(byte_sum AS DOUBLE) / {n} AS byte_mean, n_distinct
FROM feat"""


def q_media_reuse() -> str:
    """Content-fingerprint media dedup twin: DuckDB re-synthesizes each
    payload from the deterministic byte rule and folds the same rolling
    polynomial hash (base FINGERPRINT_BASE mod HASH_P, seed 0) that the
    Spark operator computes with F.aggregate over payload_bytes."""
    n = c.MEDIA_N_BYTES
    b, p = c.FINGERPRINT_BASE, c.HASH_P
    return f"""
WITH chunks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did,
         unnest(range(CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT))) AS i
  FROM documents
),
media AS (
  SELECT doc_id, did, i FROM chunks WHERE (did * 7 + i) % 5 = 0
),
fps AS (
  SELECT doc_id,
         'media://' || doc_id || '/' || CAST(i AS VARCHAR) AS media_ref,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range({n}), j -> (did * 31 + j * 17) % 256)),
            (a, x) -> (a * {b} + x) % {p}) AS BIGINT) AS content_fp
  FROM media
)
SELECT content_fp,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(media_ref) AS canonical_ref,
       CAST((count(*) - 1) * {n} AS BIGINT) AS bytes_saved
FROM fps GROUP BY content_fp"""


def q_media_stats() -> str:
    """Interleave accounting twin: DuckDB re-derives span counts from
    the chunking rule (12-token text chunks; a media span follows chunk
    i iff (doc_id*7 + i) % 5 == 0) rather than reading Spark's spans."""
    return """
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did,
         CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT) AS n_chunks
  FROM documents
),
med AS (
  SELECT doc_id,
         n_chunks,
         len(list_filter(range(n_chunks), i -> (did * 7 + i) % 5 = 0)) AS n_media
  FROM base
)
SELECT doc_id,
       CAST(n_chunks + n_media AS BIGINT) AS n_spans,
       CAST(n_chunks AS BIGINT) AS n_text_spans,
       CAST(n_media AS BIGINT) AS n_media_spans,
       CAST(n_media AS DOUBLE) / CAST(n_chunks + n_media AS DOUBLE) AS media_frac
FROM med"""


# ---------------------------------------------------------------------------
# Events windowed aggregation (batch twin of the streaming query)
# ---------------------------------------------------------------------------

def q_events_windowed() -> str:
    return """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2"""


def q_events_sessionized() -> str:
    """Sessionization: gap > 30 min starts a new session (lag + cumsum);
    event_id tie-breaks identical timestamps deterministically."""
    return """
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM gaps
)
SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(ts) AS TIMESTAMP) AS sess_start,
       CAST(max(ts) AS TIMESTAMP) AS sess_end
FROM sess GROUP BY user_id, sess_id"""


def q_events_asof() -> str:
    """DuckDB's native ASOF JOIN is the oracle for the Spark
    union+carry-forward-window formulation (events.asof_last_event):
    greatest error ts <= event ts per user, inclusive."""
    return """
SELECT e.event_id, e.ts, e.user_id, e.event_type,
       r.event_id AS last_error_event_id,
       CAST(epoch_us(e.ts) - epoch_us(r.ts) AS BIGINT) AS us_since_error
FROM events e
ASOF LEFT JOIN (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
) r ON e.user_id = r.user_id AND e.ts >= r.ts"""


def q_events_range_join(window_seconds: int = 3600) -> str:
    """Plain non-equi BETWEEN join — correct at oracle scale; the Spark
    side proves the bucketed equi-join computes the same relation."""
    wus = window_seconds * 1_000_000
    return f"""
WITH p AS (
  SELECT event_id, user_id, ts, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, p.ts,
       CAST(count(c.c_us) AS BIGINT) AS n_clicks_window
FROM p LEFT JOIN c
  ON c.user_id = p.user_id
 AND c.c_us >= p.p_us - {wus} AND c.c_us < p.p_us
GROUP BY p.event_id, p.user_id, p.ts"""


def q_doc_top_terms(k: int = 5) -> str:
    from glirel_spark.oracle import CTE_TOKENS

    return (
        "WITH " + CTE_TOKENS.strip() + f""",
tf AS (
  SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, token
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
sc AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         CAST(t.tf * (SELECT n FROM nn) AS DOUBLE) / d.df AS score
  FROM tf t JOIN dft d USING (term)
),
rk AS (
  SELECT *, CAST(row_number() OVER (
     PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INT) AS rank
  FROM sc
)
SELECT doc_id, rank, term, tf, df, score FROM rk WHERE rank <= {k}"""
    )


def q_events_props() -> str:
    return """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
         AS BIGINT) AS n_distinct_k
FROM events GROUP BY event_type"""


def q_link_candidates(threshold: float = 0.3) -> str:
    """Mirror of linking.fuzzy_alias_candidates: char-3-gram MinHash-LSH
    candidates between distinct mention surfaces and the alias
    dictionary, exact-Jaccard-verified. Single-char token hash = ascii,
    so the shingle/signature/band arithmetic is the corpus_dedup family
    applied to character streams."""
    from glirel_spark.oracle import CTE_MENTIONS, CTE_TOKENS

    p, b = c.HASH_P, c.SHINGLE_BASE
    alias_vals = ", ".join(
        f"('{a}', '{cid}')" for a, cid in sorted(c.ALIAS_DICT.items())
    )
    sig_cols = _sig_cols()
    r = c.MINHASH_K // c.MINHASH_BANDS
    band_parts = []
    for band in range(c.MINHASH_BANDS):
        key = "CAST(0 AS BIGINT)"
        for j in range(r):
            key = f"(({key}) * {b} + mh{band * r + j}) % {p}"
        band_parts.append(f"SELECT s, {band} AS band, {key} AS band_key FROM csig")
    cbands = "\n  UNION ALL ".join(band_parts)

    return f"""
WITH {CTE_TOKENS.strip().rstrip(',')},
{CTE_MENTIONS.strip().rstrip(',')},
surfs AS (SELECT DISTINCT lower(text) AS s FROM mentions),
adict(alias, canonical_id) AS (VALUES {alias_vals}),
anorm AS (SELECT DISTINCT lower(alias) AS s, canonical_id FROM adict),
sstr AS (SELECT s FROM surfs UNION SELECT s FROM anorm),
cshing AS (
  SELECT DISTINCT s,
         (((CAST(ascii(substring(s, CAST(i + 1 AS INT), 1)) AS BIGINT) % {p}) * {b}
            + CAST(ascii(substring(s, CAST(i + 2 AS INT), 1)) AS BIGINT)) % {p} * {b}
            + CAST(ascii(substring(s, CAST(i + 3 AS INT), 1)) AS BIGINT)) % {p} AS sh
  FROM (SELECT s, unnest(range(greatest(length(s) - 2, 0))) AS i FROM sstr)
),
csig AS (
  SELECT s,
         {sig_cols}
  FROM cshing GROUP BY s
),
cbands AS (
  {cbands}
),
cands AS (
  SELECT DISTINCT sb.s AS surface, ab.s AS alias
  FROM cbands sb
  JOIN cbands ab ON sb.band = ab.band AND sb.band_key = ab.band_key
  JOIN surfs ON surfs.s = sb.s
  JOIN (SELECT DISTINCT s FROM anorm) an ON an.s = ab.s
  WHERE sb.s <> ab.s
),
sizes AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM cshing GROUP BY s),
inters AS (
  SELECT cd2.surface, cd2.alias, CAST(count(*) AS BIGINT) AS inter
  FROM cands cd2
  JOIN cshing s1 ON s1.s = cd2.surface
  JOIN cshing s2 ON s2.s = cd2.alias AND s2.sh = s1.sh
  GROUP BY cd2.surface, cd2.alias
),
ver AS (
  SELECT c3.surface, c3.alias,
         CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
         CAST(z1.n + z2.n - coalesce(i.inter, 0) AS BIGINT) AS un
  FROM cands c3
  LEFT JOIN inters i ON i.surface = c3.surface AND i.alias = c3.alias
  JOIN sizes z1 ON z1.s = c3.surface
  JOIN sizes z2 ON z2.s = c3.alias
)
SELECT v.surface, v.alias, a2.canonical_id, v.inter, v.un,
       CAST(v.inter AS DOUBLE) / v.un AS jaccard
FROM ver v JOIN anorm a2 ON a2.s = v.alias
WHERE CAST(v.inter AS DOUBLE) / v.un >= {threshold}"""


def q_inverted_index(n_shards: int = 8) -> str:
    """Mirror of textstats.inverted_index: per-(token, doc) partials,
    (token, shard) rollup, sorted ','-joined postings."""
    return f"""
WITH {CTE_TOKENS.strip().rstrip()}
, pd AS (
  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf_doc
  FROM toks GROUP BY token, doc_id
)
SELECT token,
       CAST(CAST(doc_id AS BIGINT) % {n_shards} AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf_doc) AS BIGINT) AS tf,
       string_agg(doc_id, ',' ORDER BY doc_id) AS postings
FROM pd GROUP BY token, CAST(doc_id AS BIGINT) % {n_shards}"""


def q_ngram_lm(min_count: int = 3) -> str:
    """Mirror of textstats.ngram_lm: positional bigram self-join,
    unfiltered left marginal, one exactly-rounded division."""
    return f"""
WITH {CTE_TOKENS.strip().rstrip()}
, bg AS (
  SELECT a.token AS w1, b.token AS w2
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
c12 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM bg GROUP BY w1, w2
),
c1 AS (
  SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1
)
SELECT c12.w1, c12.w2, c12.n12, c1.n1,
       CAST(c12.n12 AS DOUBLE) / CAST(c1.n1 AS DOUBLE) AS cond_p
FROM c12 JOIN c1 ON c1.w1 = c12.w1
WHERE c12.n12 >= {min_count}"""


def q_doc_bigram_surprisal() -> str:
    """Mirror of textstats.doc_bigram_surprisal: positional bigram
    join, integer bit-length surprisal vs the bigram count table and
    its left marginal, one final division."""
    return f"""
WITH {CTE_TOKENS.strip()}
, bg AS (
  SELECT a.doc_id, a.token AS w1, b.token AS w2
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
c12 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM bg GROUP BY w1, w2
),
c1 AS (
  SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1
)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(length(bin(c1.n1)) - length(bin(c12.n12))) AS BIGINT)
         AS sum_surprisal_bits,
       CAST(sum(length(bin(c1.n1)) - length(bin(c12.n12))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mean_surprisal_bits
FROM bg
JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
JOIN c1 ON c1.w1 = bg.w1
GROUP BY bg.doc_id"""


def q_minhash_hard_negatives(max_jaccard: float = 0.2) -> str:
    """Mirror of corpus_dedup.minhash_hard_negatives: the
    q_minhash_neardups body with the verify threshold inverted."""
    return (
        _with(CTE_TOKENS, CTE_THASH, CTE_SHINGLES, CTE_SIG, CTE_BANDS)
        + f"""
, sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shing GROUP BY doc_id),
inters AS (
  SELECT cd.doc1, cd.doc2, CAST(count(*) AS BIGINT) AS inter
  FROM cands cd
  JOIN shing s1 ON s1.doc_id = cd.doc1
  JOIN shing s2 ON s2.doc_id = cd.doc2 AND s2.sh = s1.sh
  GROUP BY cd.doc1, cd.doc2
),
verified AS (
  SELECT cd.doc1, cd.doc2,
         CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
         CAST(z1.n + z2.n - coalesce(i.inter, 0) AS BIGINT) AS un
  FROM cands cd
  LEFT JOIN inters i ON i.doc1 = cd.doc1 AND i.doc2 = cd.doc2
  JOIN sizes z1 ON z1.doc_id = cd.doc1
  JOIN sizes z2 ON z2.doc_id = cd.doc2
)
SELECT doc1, doc2, inter, un, CAST(inter AS DOUBLE) / un AS jaccard
FROM verified WHERE CAST(inter AS DOUBLE) / un < {max_jaccard}"""
    )


def q_corpus_routing() -> str:
    """Mirror of pipeline.corpus_routing: the four gate subqueries
    (each carrying its own WITH, incl. the recursive near-dup closure)
    joined on doc_id, with the same priority cascade."""
    exact = (
        _with(CTE_TOKENS, CTE_THASH, CTE_FP)
        + "\nSELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY fp)"
        " AS is_exact_keeper FROM fps"
    )
    return f"""
SELECT l.doc_id, l.lang_pred, g.pass_gopher, e.is_exact_keeper,
       d.is_canonical,
       CASE WHEN l.lang_pred <> 'en' THEN 'lang'
            WHEN NOT g.pass_gopher THEN 'quality'
            WHEN NOT e.is_exact_keeper THEN 'exact_dup'
            WHEN NOT d.is_canonical THEN 'near_dup'
            ELSE 'keep' END AS reason,
       (l.lang_pred = 'en' AND g.pass_gopher AND e.is_exact_keeper
        AND d.is_canonical) AS keep
FROM ({q_lang_id()}) l
JOIN (SELECT doc_id, pass_gopher FROM ({q_doc_gopher_rules()})) g
  ON g.doc_id = l.doc_id
JOIN ({exact}) e ON e.doc_id = l.doc_id
JOIN (SELECT doc_id, is_canonical FROM ({q_dedup_clusters()})) d
  ON d.doc_id = l.doc_id"""


def q_routing_stats() -> str:
    """ROLLUP twin over the corpus_routing subquery; GROUPING bitmask
    matches Spark grouping_id."""
    return f"""
SELECT lang_pred, reason,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(keep AS BIGINT)) AS BIGINT) AS n_keep,
       CAST(GROUPING(lang_pred, reason) AS INT) AS gid
FROM ({q_corpus_routing()})
GROUP BY ROLLUP(lang_pred, reason)"""


def q_lang_confusion() -> str:
    """Mirror of textstats.lang_confusion: q_lang_id as a subquery
    joined to the table's own lang labels, per-true-lang recall."""
    return f"""
WITH cm AS (
  SELECT d.lang AS lang_true, p.lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM documents d
  JOIN ({q_lang_id()}) p ON p.doc_id = CAST(d.doc_id AS VARCHAR)
  GROUP BY d.lang, p.lang_pred
),
tot AS (
  SELECT lang_true, CAST(sum(n) AS BIGINT) AS n_true FROM cm GROUP BY lang_true
)
SELECT cm.lang_true, cm.lang_pred, cm.n, t.n_true,
       CAST(cm.n AS DOUBLE) / CAST(t.n_true AS DOUBLE) AS share
FROM cm JOIN tot t ON t.lang_true = cm.lang_true"""


def q_distinct_hll() -> str:
    """Mirror of textstats.distinct_hll: same register geometry off the
    char hash, exact-rational harmonic sum, identical inlined
    alpha*m^2*2^K and linear-counting table literals."""
    from glirel_spark.operators.textstats import (
        HLL_ALPHA_M2_2K,
        HLL_K,
        HLL_LC_TABLE,
        HLL_M,
    )

    ch = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(token, ''), "
        "ch -> CAST(ascii(ch) AS BIGINT))), "
        f"(a, b) -> (a * {c.SHINGLE_BASE} + b) % {c.HASH_P})"
    )
    # trailing e0 forces DOUBLE parse (a bare decimal literal is
    # DECIMAL in DuckDB and double-rounds through the cast)
    const = repr(HLL_ALPHA_M2_2K) + "e0"
    lc_list = "[" + ", ".join(f"{v!r}e0" for v in HLL_LC_TABLE) + "]"
    return f"""
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
),
hv AS (
  SELECT lang, {ch} AS h FROM tok
),
rr AS (
  SELECT lang, CAST(h % {HLL_M} AS INT) AS reg,
         CASE WHEN (h // {HLL_M}) = 0 THEN {HLL_K}
              ELSE length(bin((h // {HLL_M}) & -(h // {HLL_M}))) END AS rho
  FROM hv
),
regs AS (SELECT lang, reg, max(rho) AS m FROM rr GROUP BY lang, reg),
langs AS (SELECT DISTINCT lang FROM documents),
dense AS (
  SELECT l.lang, r.reg, CAST(coalesce(g.m, 0) AS INT) AS m
  FROM langs l
  CROSS JOIN (SELECT unnest(range({HLL_M})) AS reg) r
  LEFT JOIN regs g ON g.lang = l.lang AND g.reg = r.reg
),
sk AS (
  SELECT lang,
         CAST(sum(CAST(1 AS BIGINT) << ({HLL_K} - m)) AS BIGINT) AS den,
         CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
         string_agg(CAST(m AS VARCHAR), ',' ORDER BY reg) AS registers
  FROM dense GROUP BY lang
),
ex AS (
  SELECT lang, CAST(count(DISTINCT token) AS BIGINT) AS n_distinct
  FROM tok GROUP BY lang
),
es AS (
  SELECT sk.lang, sk.registers, sk.n_empty,
         {const} / CAST(sk.den AS DOUBLE) AS est_raw,
         CASE WHEN {const} / CAST(sk.den AS DOUBLE) <= {repr(2.5 * HLL_M)}
                   AND sk.n_empty > 0
              THEN ({lc_list})[CAST(sk.n_empty AS INT) + 1]
              ELSE {const} / CAST(sk.den AS DOUBLE) END AS est_distinct
  FROM sk
)
SELECT es.lang, es.registers, es.n_empty, es.est_raw, es.est_distinct,
       ex.n_distinct,
       (es.est_distinct - CAST(ex.n_distinct AS DOUBLE))
         / CAST(ex.n_distinct AS DOUBLE) AS rel_err
FROM es JOIN ex ON ex.lang = es.lang"""


def q_cms_topk(top_n: int = 20) -> str:
    """Mirror of textstats.cms_topk: same d x w cell hashing, sketch
    build, and min-over-rows point queries for the true top-N tokens."""
    from glirel_spark.operators.textstats import CMS_D, CMS_W

    ch = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(token, ''), "
        "ch -> CAST(ascii(ch) AS BIGINT))), "
        f"(a, b) -> (a * {c.SHINGLE_BASE} + b) % {c.HASH_P})"
    )
    cell_rows = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS row, CAST(((h * {c.MINHASH_AB[i][0]} + {c.MINHASH_AB[i][1]})"
        f" % {c.HASH_P}) % {CMS_W} AS INT) AS col FROM ht"
        for i in range(CMS_D)
    )
    joins = "\n".join(
        f"JOIN sketch s{i} ON s{i}.row = {i} AND s{i}.col = "
        f"CAST(((e.h * {c.MINHASH_AB[i][0]} + {c.MINHASH_AB[i][1]})"
        f" % {c.HASH_P}) % {CMS_W} AS INT)"
        for i in range(CMS_D)
    )
    least = "least(" + ", ".join(f"s{i}.cnt" for i in range(CMS_D)) + ")"
    return f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
ht AS (SELECT token, {ch} AS h FROM tok),
cells AS (
{cell_rows}
),
sketch AS (
  SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY row, col
),
exact AS (
  SELECT token, h, CAST(count(*) AS BIGINT) AS exact
  FROM ht GROUP BY token, h
  ORDER BY exact DESC, token LIMIT {top_n}
)
SELECT e.token, {least} AS est, e.exact,
       {least} - e.exact AS overcount
FROM exact e
{joins}"""


def q_bloom_decontaminate() -> str:
    """Mirror of corpus_dedup.bloom_decontaminate: same affine probe
    positions, distinct-bit filter, all-k membership, exact twin."""
    from glirel_spark.operators.corpus_dedup import BLOOM_K, BLOOM_M

    def probe(i: int, col: str) -> str:
        a, b = c.MINHASH_AB[i]
        return f"(({col} * {a} + {b}) % {c.HASH_P}) % {BLOOM_M}"

    probes_list = ", ".join(probe(i, "s.sh") for i in range(BLOOM_K))
    member = " AND ".join(
        f"EXISTS (SELECT 1 FROM bits WHERE bits.bit = {probe(i, 's.sh')})"
        for i in range(BLOOM_K)
    )
    return (
        _with(CTE_TOKENS, CTE_THASH, CTE_SHINGLES)
        + f"""
, ev AS (
  SELECT DISTINCT sh FROM shing WHERE CAST(doc_id AS BIGINT) % {c.DECONTAM_EVAL_MOD} = 0
),
bits AS (
  SELECT DISTINCT bit FROM ev s, unnest([{probes_list}]) AS u(bit)
),
train AS (
  SELECT doc_id, sh FROM shing
  WHERE CAST(doc_id AS BIGINT) % {c.DECONTAM_EVAL_MOD} <> 0
),
flags AS (
  SELECT s.doc_id,
         CAST(sum(CASE WHEN {member} THEN 1 ELSE 0 END) AS INT)
           AS n_bloom_hits,
         CAST(sum(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) AS INT)
           AS n_exact
  FROM train s LEFT JOIN ev e ON e.sh = s.sh
  GROUP BY s.doc_id
)
SELECT doc_id, n_bloom_hits,
       n_bloom_hits > 0 AS bloom_contaminated,
       n_exact > 0 AS contaminated,
       (n_bloom_hits > 0 AND NOT (n_exact > 0)) AS is_fp
FROM flags"""
    )


def q_token_blocks() -> str:
    """Mirror of packing.token_blocks: exclusive prefix sum of per-doc
    sequence lengths (tokens + 1 EOS) in doc_id order, arithmetic block
    membership, per-block aggregation. The oracle uses one global
    window (fine at oracle scale); the engine's distributed two-phase
    scan must produce the identical layout."""
    b = c.PACK_BLOCK
    return f"""
WITH dlen AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS sl
  FROM documents
),
offs AS (
  SELECT doc_id, sl,
         sum(sl) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - sl AS s
  FROM dlen
),
blk AS (
  SELECT doc_id, s, s + sl AS e,
         unnest(range(CAST(s // {b} AS BIGINT),
                      CAST((s + sl - 1) // {b} + 1 AS BIGINT))) AS block_id
  FROM offs
)
SELECT block_id,
       CAST(sum(least(e, (block_id + 1) * {b}) - greatest(s, block_id * {b}))
            AS BIGINT) AS n_positions,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM blk GROUP BY block_id"""


def q_doc_chunks() -> str:
    """Mirror of packing.doc_chunks: overlapping W/S token windows with
    the polynomial chunk-content hash folded over per-token ids in
    position order."""
    w, s = c.RAG_CHUNK_W, c.RAG_CHUNK_STRIDE
    return (
        "WITH "
        + CTE_TOKENS.strip().rstrip(",")
        + ",\n"
        + CTE_THASH.strip().rstrip(",")
        + f""",
dlen AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM thash GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, n,
         unnest(range(CAST(CASE WHEN n <= {w} THEN 1
                           ELSE (n - {w} + {s} - 1) // {s} + 1 END
                      AS BIGINT))) AS chunk_id
  FROM dlen
),
cj AS (
  SELECT ch.doc_id, ch.chunk_id,
         CAST(ch.chunk_id * {s} AS BIGINT) AS start,
         CAST(least({w}, ch.n - ch.chunk_id * {s}) AS BIGINT) AS chunk_len,
         t.pos, t.tid
  FROM chunks ch JOIN thash t
    ON t.doc_id = ch.doc_id
   AND t.pos >= ch.chunk_id * {s} AND t.pos < ch.chunk_id * {s} + {w}
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, start, chunk_len,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT), list(tid ORDER BY pos)),
         (a, b) -> (a * {c.SHINGLE_BASE} + b) % {c.HASH_P}) AS chunk_hash
FROM cj GROUP BY doc_id, chunk_id, start, chunk_len"""
    )


def q_quality_buckets() -> str:
    """Mirror of textstats.quality_buckets: integer deci-bit mean
    surprisal per doc, histogram cumsum, bucket = below * NB DIV total
    (ties share a bucket)."""
    nb = c.QUALITY_N_BUCKETS
    return f"""
WITH tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(string_split(text, ' ')) AS token
  FROM documents
),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
per_doc AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(length(bin(tt.total)) - length(bin(cn.cnt))) AS BIGINT)
           AS sum_bits
  FROM tok t JOIN counts cn ON cn.token = t.token CROSS JOIN tot tt
  GROUP BY t.doc_id
),
s AS (
  SELECT doc_id, CAST((sum_bits * 10) // n AS BIGINT) AS decibits
  FROM per_doc
),
hist AS (
  SELECT decibits, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY decibits
),
cum AS (
  SELECT decibits,
         CAST(coalesce(sum(n) OVER (ORDER BY decibits
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM hist
),
dtot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM hist)
SELECT s.doc_id, s.decibits,
       CAST((cm.below * {nb}) // dt.total AS BIGINT) AS bucket
FROM s JOIN cum cm USING (decibits) CROSS JOIN dtot dt"""


def q_funnel_counts() -> str:
    """Mirror of events.funnel_counts: per-step first-qualifying-time
    chain (min ts at-or-after the previous step), |steps| count rows."""
    from glirel_spark.operators.events import FUNNEL_STEPS

    ctes = [
        f"""t0 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
)"""
    ]
    for i, s in enumerate(FUNNEL_STEPS[1:], start=1):
        ctes.append(
            f"""t{i} AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN t{i - 1} p ON p.user_id = e.user_id AND e.ts >= p.t
  WHERE e.event_type = '{s}' GROUP BY e.user_id
)"""
        )
    selects = [
        f"SELECT CAST({i} AS BIGINT) AS step_idx, '{s}' AS step_type,"
        f" CAST(count(*) AS BIGINT) AS n_users FROM t{i}"
        for i, s in enumerate(FUNNEL_STEPS)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def q_user_state_intervals() -> str:
    """Mirror of events.user_state_intervals: lead() per user with the
    2100-01-01 sentinel close."""
    return """
SELECT user_id, event_type AS state, ts AS valid_from,
       coalesce(lead(ts) OVER w, TIMESTAMP '2100-01-01 00:00:00') AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_open,
       event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""


def q_allpairs_neardups() -> str:
    """Mirror of corpus_dedup.allpairs_neardups: global rare-first
    shingle order, per-doc prefix slice, prefix equi-join candidates,
    exact-Jaccard verify with the integer cross-multiplied threshold."""
    tn, td = c.ALLPAIRS_T_NUM, c.ALLPAIRS_T_DEN
    return (
        _with(CTE_TOKENS, CTE_THASH, CTE_SHINGLES)
        + f""",
dfreq AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM shing GROUP BY sh),
rk AS (
  SELECT s.doc_id, s.sh,
         row_number() OVER (PARTITION BY s.doc_id ORDER BY f.df, s.sh) AS rk,
         count(*) OVER (PARTITION BY s.doc_id) AS n
  FROM shing s JOIN dfreq f ON f.sh = s.sh
),
pref AS (
  SELECT doc_id, sh FROM rk
  WHERE rk <= n - (({tn} * n + {td} - 1) // {td}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM pref a JOIN pref b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shing GROUP BY doc_id
),
iv AS (
  SELECT cd.doc1, cd.doc2, CAST(count(*) AS BIGINT) AS inter
  FROM cand cd
  JOIN shing s1 ON s1.doc_id = cd.doc1
  JOIN shing s2 ON s2.doc_id = cd.doc2 AND s2.sh = s1.sh
  GROUP BY cd.doc1, cd.doc2
)
SELECT i.doc1, i.doc2, i.inter,
       CAST(z1.n + z2.n - i.inter AS BIGINT) AS un,
       CAST(i.inter AS DOUBLE) / CAST(z1.n + z2.n - i.inter AS DOUBLE)
         AS jaccard
FROM iv i
JOIN sizes z1 ON z1.doc_id = i.doc1
JOIN sizes z2 ON z2.doc_id = i.doc2
WHERE i.inter * {td} >= (z1.n + z2.n - i.inter) * {tn}"""
    )


def q_user_retention() -> str:
    """Mirror of events.user_retention: integer epoch weeks, cohort by
    min week, distinct (user, week) activity, integer milli ratio."""
    return """
WITH wk AS (
  SELECT user_id,
         date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) // 604800
           AS week
  FROM events
),
first AS (
  SELECT user_id, CAST(min(week) AS BIGINT) AS cohort_week
  FROM wk GROUP BY user_id
),
active AS (SELECT DISTINCT user_id, CAST(week AS BIGINT) AS week FROM wk),
cell AS (
  SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM active a JOIN first f ON f.user_id = a.user_id
  GROUP BY 1, 2
),
coh AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
  FROM first GROUP BY cohort_week
)
SELECT c.cohort_week, CAST(c.week_offset AS BIGINT) AS week_offset,
       c.n_active, h.n_cohort,
       CAST((c.n_active * 1000) // h.n_cohort AS BIGINT) AS retention_milli
FROM cell c JOIN coh h ON h.cohort_week = c.cohort_week"""


def q_packing_stats() -> str:
    """Mirror of packing.packing_stats: block-span arithmetic over the
    same prefix-sum layout as q_token_blocks, histogrammed."""
    b = c.PACK_BLOCK
    return f"""
WITH dlen AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS sl
  FROM documents
),
offs AS (
  SELECT doc_id, sl,
         sum(sl) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - sl AS s
  FROM dlen
)
SELECT CAST(((s + sl - 1) // {b}) - (s // {b}) + 1 AS BIGINT)
         AS n_blocks_spanned,
       CAST(count(*) AS BIGINT) AS n_docs
FROM offs GROUP BY 1"""


def q_vocab_coverage() -> str:
    """Mirror of textstats.vocab_coverage: vocabulary-bounded rank
    window, k-budget unnest, integer milli coverage."""
    ks = ", ".join(str(k) for k in sorted(c.VOCAB_KS))
    return f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rk FROM counts
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM counts),
per_k AS (
  SELECT k.vocab_k, CAST(sum(r.n) AS BIGINT) AS n_covered
  FROM ranked r CROSS JOIN (SELECT unnest([{ks}]) AS vocab_k) k
  WHERE r.rk <= k.vocab_k
  GROUP BY k.vocab_k
)
SELECT CAST(p.vocab_k AS BIGINT) AS vocab_k, p.n_covered, t.n_total,
       CAST((p.n_covered * 1000) // t.n_total AS BIGINT) AS coverage_milli
FROM per_k p CROSS JOIN tot t"""


def q_event_gaps() -> str:
    """Mirror of events.event_gaps: per-user lag gaps in integer
    microseconds, min/max/count and the integer mean."""
    return """
WITH g AS (
  SELECT user_id,
         date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_us
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       CAST(sum(gap_us) // count(*) AS BIGINT) AS mean_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id"""


def q_containment_pairs() -> str:
    """Mirror of corpus_dedup.containment_pairs: probe-side prefix
    under the rare-first order, df-capped index postings, exact
    intersection verify with the integer containment test."""
    tn, td = c.CONTAIN_T_NUM, c.CONTAIN_T_DEN
    cap = c.CONTAIN_DF_CAP
    return (
        _with(CTE_TOKENS, CTE_THASH, CTE_SHINGLES)
        + f""",
dfreq AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM shing GROUP BY sh),
rk AS (
  SELECT s.doc_id, s.sh,
         row_number() OVER (PARTITION BY s.doc_id ORDER BY f.df, s.sh) AS rk,
         count(*) OVER (PARTITION BY s.doc_id) AS n
  FROM shing s JOIN dfreq f ON f.sh = s.sh
),
pref AS (
  SELECT doc_id AS doc_sub, sh FROM rk
  WHERE rk <= n - (({tn} * n + {td} - 1) // {td}) + 1
),
idx AS (
  SELECT s.doc_id AS doc_super, s.sh
  FROM shing s JOIN dfreq f ON f.sh = s.sh AND f.df <= {cap}
),
cand AS (
  SELECT DISTINCT p.doc_sub, i.doc_super
  FROM pref p JOIN idx i ON i.sh = p.sh AND i.doc_super <> p.doc_sub
),
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shing GROUP BY doc_id
),
iv AS (
  SELECT cd.doc_sub, cd.doc_super, CAST(count(*) AS BIGINT) AS inter
  FROM cand cd
  JOIN shing s1 ON s1.doc_id = cd.doc_sub
  JOIN shing s2 ON s2.doc_id = cd.doc_super AND s2.sh = s1.sh
  GROUP BY cd.doc_sub, cd.doc_super
)
SELECT i.doc_sub, i.doc_super, i.inter, z.n AS n_sub,
       CAST((i.inter * 1000) // z.n AS BIGINT) AS containment_milli
FROM iv i JOIN sizes z ON z.doc_id = i.doc_sub
WHERE i.inter * {td} >= z.n * {tn}"""
    )


def q_bm25_topk() -> str:
    """Mirror of textstats.bm25_topk: integer cross-multiplied Okapi
    BM25 (k1=6/5, b=3/4 scaled by 10*avgdl), bit-length idf, milli
    quantization per term, exact long sums, per-query top-k window."""
    mod, k = c.BM25_QUERY_MOD, c.BM25_TOPK
    nq = c.BM25_QUERY_TERMS
    return f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(string_split(text, ' ')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, token
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) // count(*) AS BIGINT) AS avgdl
  FROM dl
),
qrk AS (
  SELECT t.doc_id AS q_doc, t.token, f.df,
         row_number() OVER (
           PARTITION BY t.doc_id ORDER BY f.df ASC, t.token ASC) AS tr
  FROM tf t JOIN dft f ON f.token = t.token
  WHERE t.doc_id % {mod} = 0
),
q AS (
  SELECT r.q_doc, r.token, s.avgdl,
         CAST(length(bin(s.n_docs)) - length(bin(r.df)) AS BIGINT) AS idf_bits
  FROM qrk r CROSS JOIN stats s
  WHERE r.tr <= {nq}
),
pair AS (
  SELECT q.q_doc, t.doc_id AS cand_doc,
         CAST(sum((q.idf_bits * 22 * t.tf * q.avgdl * 1000)
              // (10 * t.tf * q.avgdl + 3 * q.avgdl + 9 * d.dl))
              AS BIGINT) AS score_milli,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM tf t
  JOIN q ON q.token = t.token AND t.doc_id <> q.q_doc
  JOIN dl d ON d.doc_id = t.doc_id
  GROUP BY q.q_doc, t.doc_id
),
rk AS (
  SELECT *, CAST(row_number() OVER (
     PARTITION BY q_doc ORDER BY score_milli DESC, cand_doc ASC) AS INT)
     AS rank
  FROM pair
)
SELECT q_doc, rank, cand_doc, score_milli, n_terms FROM rk WHERE rank <= {k}"""


def q_bpe_merges() -> str:
    """Golden-table oracle for textstats.bpe_merges: the committed
    pure-python BPE replay (tools/gen_bpe_golden.py), dispatched per
    scale factor by the corpus signature — same footing as
    q_triples_neural (iterative argmax with loop-carried state is not
    one SQL query)."""
    import pathlib

    from glirel_spark.oracle import _GOLDEN_SIGS

    root = pathlib.Path(__file__).resolve().parent.parent / "goldens"
    arms = "\nUNION ALL\n".join(
        f"SELECT * FROM read_parquet('{root}/{sf}/bpe_merges.parquet')"
        f" WHERE (SELECT s FROM sig) = {s}"
        for sf, s in _GOLDEN_SIGS.items()
    )
    return f"WITH sig AS (SELECT sum(length(text)) AS s FROM documents)\n{arms}"


def q_corpus_mixture() -> str:
    """Mirror of textstats.corpus_mixture: largest-remainder integer
    apportionment of the token budget, recomputed from the raw weight
    table (base/rem/rank/leftover all re-derived in SQL)."""
    b = c.MIXTURE_BUDGET_TOKENS
    w = c.MIXTURE_WEIGHTS_BPS
    vals = ", ".join(f"('{d}', {w[d]})" for d in sorted(w))
    known = ", ".join(f"'{d}'" for d in sorted(w) if d != "other")
    return f"""
WITH w(domain, weight_bps) AS (VALUES {vals}),
av AS (
  SELECT CASE WHEN lang IN ({known}) THEN lang ELSE 'other' END AS domain,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS available_tokens
  FROM documents GROUP BY 1
),
alloc AS (
  SELECT domain, CAST(weight_bps AS BIGINT) AS weight_bps,
         ({b} * weight_bps) // 10000 AS base,
         ({b} * weight_bps) % 10000 AS rem
  FROM w
),
a2 AS (
  SELECT *, {b} - sum(base) OVER () AS leftover,
         row_number() OVER (ORDER BY rem DESC, domain ASC) AS rk
  FROM alloc
),
t AS (
  SELECT domain, weight_bps,
         CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS target_tokens
  FROM a2
)
SELECT t.domain, t.weight_bps,
       CAST(coalesce(v.available_tokens, 0) AS BIGINT) AS available_tokens,
       t.target_tokens,
       CAST(least(coalesce(v.available_tokens, 0), t.target_tokens)
            AS BIGINT) AS quota_tokens,
       CAST(t.target_tokens
            - least(coalesce(v.available_tokens, 0), t.target_tokens)
            AS BIGINT) AS deficit_tokens,
       CAST(CASE WHEN coalesce(v.available_tokens, 0) > 0
            THEN (least(v.available_tokens, t.target_tokens) * 10000)
                 // v.available_tokens
            ELSE 0 END AS BIGINT) AS keep_bps
FROM t LEFT JOIN av v ON v.domain = t.domain"""


def q_bpe_token_counts() -> str:
    """Golden-table oracle for textstats.bpe_token_counts (the trained
    tokenizer APPLIED): committed pure-python segmentation replay,
    sig-dispatched like q_bpe_merges."""
    import pathlib

    from glirel_spark.oracle import _GOLDEN_SIGS

    root = pathlib.Path(__file__).resolve().parent.parent / "goldens"
    arms = "\nUNION ALL\n".join(
        f"SELECT * FROM read_parquet('{root}/{sf}/bpe_token_counts.parquet')"
        f" WHERE (SELECT s FROM sig) = {s}"
        for sf, s in _GOLDEN_SIGS.items()
    )
    return f"WITH sig AS (SELECT sum(length(text)) AS s FROM documents)\n{arms}"


def q_split_assign() -> str:
    """Mirror of corpus_dedup.split_assign: content-fingerprint bucket
    out of 100, CASE thresholds from the same config."""
    tr = c.SPLIT_TRAIN_PCT
    va = c.SPLIT_TRAIN_PCT + c.SPLIT_VAL_PCT
    return (
        _with(CTE_TOKENS, CTE_THASH, CTE_FP)
        + f"""
SELECT doc_id, fp, CAST(fp % 100 AS BIGINT) AS bucket,
       CASE WHEN fp % 100 < {tr} THEN 'train'
            WHEN fp % 100 < {va} THEN 'val'
            ELSE 'test' END AS split
FROM fps"""
    )


def q_split_leakage() -> str:
    """Mirror of corpus_dedup.split_leakage: the exact minhash near-dup
    relation joined to the content-hash split assignment; pairs whose
    sides differ."""
    tr = c.SPLIT_TRAIN_PCT
    va = c.SPLIT_TRAIN_PCT + c.SPLIT_VAL_PCT
    return (
        _with(CTE_TOKENS, CTE_THASH, CTE_SHINGLES, CTE_SIG, CTE_BANDS, CTE_FP)
        + f"""
, sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shing GROUP BY doc_id),
inters AS (
  SELECT cd.doc1, cd.doc2, CAST(count(*) AS BIGINT) AS inter
  FROM cands cd
  JOIN shing s1 ON s1.doc_id = cd.doc1
  JOIN shing s2 ON s2.doc_id = cd.doc2 AND s2.sh = s1.sh
  GROUP BY cd.doc1, cd.doc2
),
verified AS (
  SELECT cd.doc1, cd.doc2,
         CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
         CAST(z1.n + z2.n - coalesce(i.inter, 0) AS BIGINT) AS un
  FROM cands cd
  LEFT JOIN inters i ON i.doc1 = cd.doc1 AND i.doc2 = cd.doc2
  JOIN sizes z1 ON z1.doc_id = cd.doc1
  JOIN sizes z2 ON z2.doc_id = cd.doc2
  WHERE CAST(coalesce(i.inter, 0) AS DOUBLE)
        / (z1.n + z2.n - coalesce(i.inter, 0)) >= {c.NEARDUP_JACCARD}
),
sp AS (
  SELECT doc_id,
         CASE WHEN fp % 100 < {tr} THEN 'train'
              WHEN fp % 100 < {va} THEN 'val'
              ELSE 'test' END AS split
  FROM fps
)
SELECT v.doc1, v.doc2, a.split AS split1, b.split AS split2, v.inter, v.un
FROM verified v
JOIN sp a ON a.doc_id = v.doc1
JOIN sp b ON b.doc_id = v.doc2
WHERE a.split <> b.split"""
    )


def q_split_assign_safe() -> str:
    """Mirror of corpus_dedup.split_assign_safe: recursive family
    closure + the canonical doc's fingerprint bucket."""
    tr = c.SPLIT_TRAIN_PCT
    va = c.SPLIT_TRAIN_PCT + c.SPLIT_VAL_PCT
    base = _with(
        CTE_TOKENS, CTE_THASH, CTE_SHINGLES, CTE_SIG, CTE_BANDS,
        _neardups_comp_cte(), CTE_FP,
    )
    return (
        base.replace("WITH ", "WITH RECURSIVE ", 1)
        + f""",
sp AS (
  SELECT doc_id,
         CASE WHEN fp % 100 < {tr} THEN 'train'
              WHEN fp % 100 < {va} THEN 'val'
              ELSE 'test' END AS split
  FROM fps
)
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
       coalesce(c2.canonical, CAST(d.doc_id AS VARCHAR)) AS canonical_id,
       s.split
FROM documents d
LEFT JOIN comp c2 ON c2.doc_id = CAST(d.doc_id AS VARCHAR)
JOIN sp s ON s.doc_id = coalesce(c2.canonical, CAST(d.doc_id AS VARCHAR))"""
    )


def q_caption_pairs() -> str:
    """Caption mining twin: re-derives media positions from the
    interleave rule; the media span's array offset is its chunk index
    plus the number of media spans before it plus one (each chunk
    emits its text span first)."""
    return """
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did,
         string_split(text, ' ') AS toks,
         CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT) AS n_chunks
  FROM documents
),
med AS (
  SELECT doc_id, did, toks,
         unnest(list_filter(range(n_chunks), i -> (did * 7 + i) % 5 = 0)) AS i
  FROM base
)
SELECT doc_id,
       'media://' || doc_id || '/' || CAST(i AS VARCHAR) AS media_ref,
       CAST(i + len(list_filter(range(i), k -> (did * 7 + k) % 5 = 0)) + 1
            AS INT) AS media_offset,
       array_to_string(
         list_slice(toks, i * 12 + 1, least((i + 1) * 12, len(toks))),
         ' ') AS caption,
       CAST(least(12, len(toks) - i * 12) AS INT) AS caption_n_tokens
FROM med"""


def q_media_ref_audit() -> str:
    """Ref-integrity twin: on the rule-derived corpus every ref is
    well-formed, doc-matching, and distinct; chunk_sum folds the media
    chunk indices so values vary per document."""
    return """
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did,
         CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT) AS n_chunks
  FROM documents
),
agg AS (
  SELECT doc_id,
         list_filter(range(n_chunks), i -> (did * 7 + i) % 5 = 0) AS meds
  FROM base
)
SELECT doc_id,
       CAST(len(meds) AS BIGINT) AS n_refs,
       CAST(len(meds) AS BIGINT) AS n_wellformed,
       CAST(len(meds) AS BIGINT) AS n_doc_match,
       CAST(len(meds) AS BIGINT) AS n_distinct,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), meds),
                        (a, b) -> a + b) AS BIGINT) AS chunk_sum
FROM agg"""


def q_interleaved_chunks(budget: int = c.INTERLEAVED_CHUNK_BUDGET,
                         media_cost: int = c.MEDIA_TOKEN_COST) -> str:
    """Media-atomic chunking twin: rebuild the span sequence (text span
    per 12-token chunk, media span after chunk i iff (did*7+i)%5=0),
    window-cumsum the costs, bucket by floor(cum_before / budget)."""
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did,
         len(string_split(text, ' ')) AS n,
         CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT) AS n_chunks
  FROM documents
),
chunks AS (
  SELECT doc_id, did, n, unnest(range(n_chunks)) AS i FROM base
),
sp AS (
  SELECT doc_id, i, 0 AS sub,
         CAST(least(12, n - i * 12) AS BIGINT) AS cost, 0 AS is_media
  FROM chunks
  UNION ALL
  SELECT doc_id, i, 1, CAST({media_cost} AS BIGINT), 1
  FROM chunks WHERE (did * 7 + i) % 5 = 0
),
ord AS (
  SELECT doc_id, cost, is_media,
         row_number() OVER w - 1 AS span_offset,
         COALESCE(sum(cost) OVER (PARTITION BY doc_id ORDER BY i, sub
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM sp
  WINDOW w AS (PARTITION BY doc_id ORDER BY i, sub)
)
SELECT doc_id,
       CAST(floor(cum_before / {budget}) AS BIGINT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(is_media) AS BIGINT) AS n_media_spans,
       CAST(sum(cost) AS BIGINT) AS n_tokens,
       CAST(min(span_offset) AS INT) AS first_offset,
       CAST(max(span_offset) AS INT) AS last_offset
FROM ord GROUP BY 1, 2"""


def q_pii_scrub() -> str:
    """PII scrub twin: replay injection (repeat-by-doc_id), extraction
    counts, and the chained global redaction; the redacted string
    itself is value-compared."""
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    ipv4_re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    host_re = "host-\\d+"
    return f"""
WITH aug AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         text
         || repeat(' user' || CAST(doc_id AS VARCHAR) || '@example.org',
                   CAST(doc_id % 3 AS INT))
         || repeat(' 10.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                   || '.' || CAST((doc_id * 13) % 256 AS VARCHAR),
                   CAST(doc_id % 4 AS INT))
         || repeat(' host-' || CAST(doc_id AS VARCHAR),
                   CAST(doc_id % 5 AS INT)) AS a
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(a, '{email_re}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(a, '{ipv4_re}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(a, '{host_re}')) AS BIGINT) AS n_hosts,
       regexp_replace(
         regexp_replace(
           regexp_replace(a, '{email_re}', '<EMAIL>', 'g'),
           '{ipv4_re}', '<IP>', 'g'),
         '{host_re}', '<HOST>', 'g') AS redacted
FROM aug"""


def q_span_sequences() -> str:
    """North-rule invariant twin: re-derive EVERY span of EVERY doc
    (kind, text, media_ref, order) independently from the corpus rule;
    a value-hash match against Spark's exploded spans relation is
    per-row span-sequence equality."""
    return """
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did,
         string_split(text, ' ') AS toks,
         CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT) AS n_chunks
  FROM documents
),
ch AS (
  SELECT doc_id, did, toks, unnest(range(n_chunks)) AS i FROM base
),
m_before AS (
  SELECT *, len(list_filter(range(i), k -> (did * 7 + k) % 5 = 0)) AS m
  FROM ch
)
SELECT doc_id, CAST(i + m AS INT) AS "offset", 'text' AS kind,
       array_to_string(
         list_slice(toks, i * 12 + 1, least((i + 1) * 12, len(toks))),
         ' ') AS text,
       CAST(NULL AS VARCHAR) AS media_ref
FROM m_before
UNION ALL
SELECT doc_id, CAST(i + m + 1 AS INT) AS "offset", 'media' AS kind,
       CAST(NULL AS VARCHAR) AS text,
       'media://' || doc_id || '/' || CAST(i AS VARCHAR) AS media_ref
FROM m_before WHERE (did * 7 + i) % 5 = 0"""


def q_interleaved_blocks(block: int = c.PACK_BLOCK,
                         media_cost: int = c.MEDIA_TOKEN_COST) -> str:
    """Multimodal packing twin: rebuild the per-span cost stream from
    the interleave rule, global exclusive prefix sum in doc_id order
    (one window — fine at oracle scale), arithmetic block membership,
    media spans attributed to the block their placeholder run starts
    in."""
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did,
         len(string_split(text, ' ')) AS n,
         CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT) AS n_chunks
  FROM documents
),
chunks AS (
  SELECT doc_id, did, n, unnest(range(n_chunks)) AS i FROM base
),
sp AS (
  SELECT doc_id, i, 0 AS sub,
         CAST(least(12, n - i * 12) AS BIGINT) AS cost, 0 AS is_media
  FROM chunks
  UNION ALL
  SELECT doc_id, i, 1, CAST({media_cost} AS BIGINT), 1
  FROM chunks WHERE (did * 7 + i) % 5 = 0
),
ord AS (
  SELECT doc_id, cost, is_media,
         COALESCE(sum(cost) OVER (PARTITION BY doc_id ORDER BY i, sub
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM sp
),
dlen AS (
  SELECT doc_id, CAST(sum(cost) + 1 AS BIGINT) AS sl FROM sp GROUP BY doc_id
),
offs AS (
  SELECT doc_id, sl,
         sum(sl) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - sl AS s
  FROM dlen
),
blk AS (
  SELECT doc_id, s, s + sl AS e,
         unnest(range(CAST(s // {block} AS BIGINT),
                      CAST((s + sl - 1) // {block} + 1 AS BIGINT))) AS block_id
  FROM offs
),
agg AS (
  SELECT block_id,
         CAST(sum(least(e, (block_id + 1) * {block})
              - greatest(s, block_id * {block})) AS BIGINT) AS n_positions,
         CAST(count(*) AS BIGINT) AS n_docs,
         min(doc_id) AS first_doc,
         max(doc_id) AS last_doc
  FROM blk GROUP BY block_id
),
med AS (
  SELECT CAST((o.s + r.cb) // {block} AS BIGINT) AS block_id,
         CAST(count(*) AS BIGINT) AS n_media
  FROM ord r JOIN offs o USING (doc_id)
  WHERE r.is_media = 1 GROUP BY 1
)
SELECT a.block_id, a.n_positions, a.n_docs,
       CAST(COALESCE(m.n_media, 0) AS BIGINT) AS n_media_spans,
       a.first_doc, a.last_doc
FROM agg a LEFT JOIN med m USING (block_id)"""
