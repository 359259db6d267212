"""DuckDB oracle SQL, generated from the SAME constants as the Spark
operators (glirel_spark/config.py) so the two sides cannot drift.

Each function returns ANSI SQL runnable by DuckDB against the
pre-registered parquet views (region nation customer supplier part
orders lineitem events documents embeddings). The driver executes these
side-by-side with ``__spark_entry__.queries()`` and compares row count,
schema, and an order-insensitive value hash.

The scorer and all hash/sketch arithmetic are pure integer math with at
most one exactly-rounded IEEE division, so float values are
bit-identical across engines.
"""

from __future__ import annotations

from glirel_spark import config as c


def _gaz_values() -> str:
    rows = [f"('{t}', 1, '{ty}')" for t, ty in sorted(c.ENTITY_UNIGRAMS.items())]
    rows += [f"('{a} {b}', 2, '{ty}')" for (a, b), ty in sorted(c.ENTITY_BIGRAMS.items())]
    return ", ".join(rows)


def _label_values(include_coref: bool = False) -> str:
    def lst(v):
        if v is None:
            return "CAST(NULL AS VARCHAR[])"
        inner = ", ".join(f"'{x}'" for x in v)
        return f"[{inner}]"

    rows = [
        f"('{label}', {lst(cc.get('allowed_head'))}, {lst(cc.get('allowed_tail'))})"
        for label, cc in sorted(c.RELATION_LABELS.items())
    ]
    if include_coref:
        rows.append(f"('{c.COREF_LABEL}', CAST(NULL AS VARCHAR[]), CAST(NULL AS VARCHAR[]))")
    return ", ".join(rows)


# ---------------------------------------------------------------------------
# Shared CTE chain: documents -> tokens -> mentions -> pairs -> scored
# ---------------------------------------------------------------------------

CTE_TOKENS = """
toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(string_split(text, ' ')) AS token,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
)
"""

CTE_MENTIONS = f"""
cand AS (
  SELECT doc_id, pos AS start, token AS surface, 1 AS n_tokens FROM toks
  UNION ALL
  SELECT a.doc_id, a.pos AS start, a.token || ' ' || b.token AS surface, 2 AS n_tokens
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
gaz(surface, n_tokens, type) AS (VALUES {{GAZ}}),
mraw AS (
  SELECT c.doc_id, c.start,
         c.start + c.n_tokens - 1 AS "end",
         g.type, c.surface AS text
  FROM cand c JOIN gaz g ON c.surface = g.surface AND c.n_tokens = g.n_tokens
),
mdedup AS (
  SELECT doc_id, start, "end", type, text FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, start, "end"
                                 ORDER BY type, text) AS _rn
    FROM mraw
  ) WHERE _rn = 1
),
mlen AS (
  SELECT * FROM mdedup WHERE length(text) <= 50
),
mkept AS (
  SELECT s.* FROM mlen s
  WHERE NOT EXISTS (
    SELECT 1 FROM mlen t
    WHERE t.doc_id = s.doc_id
      AND NOT (s."end" < t.start OR t."end" < s.start)
      AND NOT (s.start = t.start AND s."end" = t."end")
      AND ( (t."end" - t.start) > (s."end" - s.start)
            OR ((t."end" - t.start) = (s."end" - s.start) AND t.start < s.start) )
  )
),
mentions AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start, "end") - 1 AS INT) AS m_id,
         start, "end", type, text
  FROM mkept
)
""".replace("{GAZ}", _gaz_values())

CTE_PAIRS = f"""
pairs AS (
  SELECT h.doc_id,
         h.m_id AS head_m_id, t.m_id AS tail_m_id,
         h.start AS h_start, h."end" AS h_end,
         t.start AS t_start, t."end" AS t_end,
         h.type AS h_type, t.type AS t_type,
         h.text AS h_text, t.text AS t_text,
         abs(h.start - t.start) AS dist,
         (abs(h.start - t.start) <= {c.MAX_PAIR_DISTANCE}) AS is_rel,
         (h.m_id < t.m_id) AS is_coref
  FROM mentions h JOIN mentions t
    ON h.doc_id = t.doc_id AND h.m_id <> t.m_id
  WHERE abs(h.start - t.start) <= {c.MAX_PAIR_DISTANCE} OR h.m_id < t.m_id
)
"""


def _raw_expr(h: str = "h_text", t: str = "t_text", lab: str = "label",
              dist: str = "dist") -> str:
    return (
        f"(({c.SCORE_W_HLEN} * length({h}) + {c.SCORE_W_TLEN} * length({t})"
        f" + {c.SCORE_W_LLEN} * length({lab}) + {c.SCORE_W_DIST} * {dist}"
        f" + {c.SCORE_W_HCH} * ascii({h}) + {c.SCORE_W_TCH} * ascii({t})"
        f" + {c.SCORE_W_LCH} * ascii({lab})) % {c.SCORE_MOD})"
    )


def cte_scored(include_coref: bool = False) -> str:
    raw = _raw_expr()
    coref_raw = (
        f"CASE WHEN label = '{c.COREF_LABEL}' THEN "
        f"(CASE WHEN h_text = t_text THEN {c.SCORE_MOD - 1} ELSE 0 END) "
        f"ELSE {raw} END"
    )
    return f"""
labels(label, allowed_head, allowed_tail) AS (VALUES {_label_values(include_coref)}),
scored AS (
  SELECT p.*, l.label, l.allowed_head, l.allowed_tail,
         CAST({coref_raw} AS INT) AS raw,
         CAST({coref_raw} AS DOUBLE) / {float(c.SCORE_MOD - 1)} AS prob
  FROM pairs p CROSS JOIN labels l
  WHERE p.is_rel
)
"""


def cte_triples(threshold: float = c.THRESHOLD, top_k: int = 1,
                constrained: bool = True) -> str:
    constraint = ""
    if constrained:
        constraint = (
            "AND (allowed_head IS NULL OR list_contains(allowed_head, h_type)) "
            "AND (allowed_tail IS NULL OR list_contains(allowed_tail, t_type))"
        )
    return f"""
thresholded AS (
  SELECT *, row_number() OVER (
     PARTITION BY doc_id, h_start, h_end, t_start, t_end
     ORDER BY prob DESC, label ASC) AS _rk
  FROM scored WHERE prob > {threshold}
),
triples AS (
  SELECT doc_id,
         h_start AS head_start, h_end + 1 AS head_end,
         t_start AS tail_start, t_end + 1 AS tail_end,
         h_text AS head_text, t_text AS tail_text,
         label, raw, prob
  FROM thresholded
  WHERE _rk <= {top_k} {constraint}
)
"""


def with_chain(*extra: str, recursive: bool = False) -> str:
    parts = [CTE_TOKENS.strip(), CTE_MENTIONS.strip(), CTE_PAIRS.strip()]
    parts += [e.strip() for e in extra]
    kw = "WITH RECURSIVE " if recursive else "WITH "
    return kw + ",\n".join(p.rstrip().rstrip(",") for p in parts)


# ---------------------------------------------------------------------------
# Per-query oracle SQL
# ---------------------------------------------------------------------------

def q_doc_tokens() -> str:
    return (
        "WITH "
        + CTE_TOKENS.strip()
        + "\nSELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,"
        " CAST(count(DISTINCT token) AS BIGINT) AS n_distinct"
        " FROM toks GROUP BY doc_id"
    )


def q_mentions() -> str:
    return (
        with_chain()
        + '\nSELECT doc_id, m_id, start, "end" AS end, type, text FROM mentions'
    )


def q_pairs() -> str:
    return (
        with_chain()
        + "\nSELECT doc_id, head_m_id, tail_m_id, h_start, h_end, t_start, t_end,"
        " h_type, t_type, h_text, t_text, dist, is_rel, is_coref FROM pairs"
    )


def q_scored() -> str:
    return (
        with_chain(cte_scored())
        + "\nSELECT doc_id, head_m_id, tail_m_id, h_start, h_end, t_start, t_end,"
        " label, raw, prob FROM scored"
    )


def q_triples() -> str:
    return (
        with_chain(cte_scored(), cte_triples())
        + "\nSELECT * FROM triples"
    )


# ---------------------------------------------------------------------------
# Coref clustering (transitive closure via recursive CTE — the oracle twin
# of the Spark union-find / label-propagation implementations)
# ---------------------------------------------------------------------------

COREF_MAX_DIST = 12  # keep in sync with operators/coref.py

CTE_CLUSTERS = f"""
coref_edges AS (
  SELECT h.doc_id, h.m_id AS a, t.m_id AS b
  FROM mentions h JOIN mentions t
    ON h.doc_id = t.doc_id AND h.m_id < t.m_id
   AND h.text = t.text AND abs(h.start - t.start) <= {COREF_MAX_DIST}
),
edges_sym AS (
  SELECT doc_id, a, b FROM coref_edges
  UNION ALL SELECT doc_id, b, a FROM coref_edges
),
reach(doc_id, m, r) AS (
  SELECT doc_id, m_id, m_id FROM mentions
  UNION
  SELECT e.doc_id, re.m, e.b
  FROM reach re JOIN edges_sym e ON e.doc_id = re.doc_id AND e.a = re.r
),
clusters AS (
  SELECT doc_id, m AS m_id, CAST(min(r) AS INT) AS root
  FROM reach GROUP BY doc_id, m
),
cstart AS (
  SELECT c.doc_id, c.root, min(m.start) AS c_start, min(c.m_id) AS c_mid
  FROM clusters c JOIN mentions m ON c.doc_id = m.doc_id AND c.m_id = m.m_id
  GROUP BY c.doc_id, c.root
),
cranked AS (
  SELECT doc_id, root,
         CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY c_start, c_mid) - 1 AS INT)
           AS cluster_idx
  FROM cstart
),
mention_clusters AS (
  SELECT m.doc_id, m.m_id, m.start, m."end", m.type, m.text, r.cluster_idx
  FROM mentions m
  JOIN clusters c ON c.doc_id = m.doc_id AND c.m_id = m.m_id
  JOIN cranked r ON r.doc_id = c.doc_id AND r.root = c.root
)
"""


def q_coref_clusters() -> str:
    return (
        with_chain(CTE_CLUSTERS, recursive=True)
        + '\nSELECT doc_id, m_id, start, "end" AS end, type, text, cluster_idx'
        " FROM mention_clusters"
    )


def q_cluster_relations() -> str:
    """A8: triples mapped to cluster indices, SELF dropped, dedup'd."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_CLUSTERS, recursive=True)
        + f"""
SELECT DISTINCT t.doc_id, h.cluster_idx AS h_idx, tt.cluster_idx AS t_idx,
       t.label AS r
FROM triples t
JOIN mention_clusters h
  ON h.doc_id = t.doc_id AND h.start = t.head_start AND h."end" + 1 = t.head_end
JOIN mention_clusters tt
  ON tt.doc_id = t.doc_id AND tt.start = t.tail_start AND tt."end" + 1 = t.tail_end
WHERE t.label <> '{c.COREF_LABEL}'"""
    )


# ---------------------------------------------------------------------------
# Evaluation replay (J4/J5/A1/A2/A3/W5)
# ---------------------------------------------------------------------------

def cte_eval_counts() -> str:
    """gold (raw >= GOLD_RAW_MIN), preds (=triples), J5 filter, A3 counts."""
    return f"""
gold AS (
  SELECT DISTINCT doc_id, h_start, h_end, t_start, t_end, label
  FROM scored WHERE raw >= {c.GOLD_RAW_MIN}
),
preds AS (
  SELECT DISTINCT t.doc_id,
         t.head_start AS h_start, t.head_end - 1 AS h_end,
         t.tail_start AS t_start, t.tail_end - 1 AS t_end, t.label
  FROM triples t
  WHERE EXISTS (SELECT 1 FROM gold g
                WHERE g.doc_id = t.doc_id AND g.h_start = t.head_start
                  AND g.h_end = t.head_end - 1 AND g.t_start = t.tail_start
                  AND g.t_end = t.tail_end - 1)
),
label_univ AS (
  SELECT label FROM preds UNION SELECT label FROM gold
),
counts AS (
  SELECT u.label,
         CAST(coalesce(tp.n, 0) AS BIGINT) AS tp,
         CAST(coalesce(pn.n, 0) AS BIGINT) AS pred_n,
         CAST(coalesce(tn.n, 0) AS BIGINT) AS true_n
  FROM label_univ u
  LEFT JOIN (SELECT p.label, count(*) AS n FROM preds p
             WHERE EXISTS (SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
               AND g.h_start = p.h_start AND g.h_end = p.h_end
               AND g.t_start = p.t_start AND g.t_end = p.t_end
               AND g.label = p.label)
             GROUP BY p.label) tp ON tp.label = u.label
  LEFT JOIN (SELECT label, count(*) AS n FROM preds GROUP BY label) pn
    ON pn.label = u.label
  LEFT JOIN (SELECT label, count(*) AS n FROM gold GROUP BY label) tn
    ON tn.label = u.label
)
"""


def q_eval_counts() -> str:
    return (
        with_chain(cte_scored(), cte_triples(), cte_eval_counts())
        + "\nSELECT label, tp, pred_n, true_n FROM counts"
    )


_METRIC_SQL = """
per AS (
  SELECT label,
         CASE WHEN pred_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / pred_n END AS p,
         CASE WHEN true_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / true_n END AS r
  FROM counts
),
perf AS (
  SELECT label, p, r,
         CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END AS f
  FROM per
),
macro AS (
  SELECT list_reduce(list(p ORDER BY label), (a,b) -> a + b) / count(*) AS macro_precision,
         list_reduce(list(r ORDER BY label), (a,b) -> a + b) / count(*) AS macro_recall,
         list_reduce(list(f ORDER BY label), (a,b) -> a + b) / count(*) AS macro_f1
  FROM perf
),
micro0 AS (
  SELECT CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(pred_n) AS BIGINT) AS pred_n,
         CAST(sum(true_n) AS BIGINT) AS true_n
  FROM counts
),
micro AS (
  SELECT CASE WHEN pred_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / pred_n END AS micro_precision,
         CASE WHEN true_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / true_n END AS micro_recall
  FROM micro0
)
SELECT micro_precision, micro_recall,
       CASE WHEN micro_precision + micro_recall = 0 THEN 0.0
            ELSE 2 * micro_precision * micro_recall / (micro_precision + micro_recall)
       END AS micro_f1,
       macro_precision, macro_recall, macro_f1
FROM micro CROSS JOIN macro
"""


def q_eval_metrics() -> str:
    return (
        with_chain(cte_scored(), cte_triples(), cte_eval_counts()) + ",\n"
        + _METRIC_SQL
    )


def q_threshold_search(
    grid: list[float] = c.THRESHOLD_GRID, raw_min: int = c.GOLD_RAW_MIN
) -> str:
    """W5: per-threshold metrics over the grid, decoding once-scored rows."""
    values = ", ".join(f"({t})" for t in grid)
    body = f"""
grid(threshold) AS (VALUES {values}),
st AS (
  SELECT s.*, g.threshold,
         row_number() OVER (
           PARTITION BY g.threshold, s.doc_id, s.h_start, s.h_end, s.t_start, s.t_end
           ORDER BY s.prob DESC, s.label ASC) AS _rk
  FROM scored s CROSS JOIN grid g
  WHERE s.prob > g.threshold
),
gold AS (
  SELECT DISTINCT doc_id, h_start, h_end, t_start, t_end, label
  FROM scored WHERE raw >= {raw_min}
),
preds AS (
  SELECT DISTINCT p.threshold, p.doc_id, p.h_start, p.h_end, p.t_start, p.t_end, p.label
  FROM st p
  WHERE p._rk = 1 AND EXISTS (
    SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id AND g.h_start = p.h_start
      AND g.h_end = p.h_end AND g.t_start = p.t_start AND g.t_end = p.t_end)
),
base AS (
  SELECT g.threshold, l.label FROM grid g CROSS JOIN (SELECT DISTINCT label FROM gold) l
  UNION SELECT DISTINCT threshold, label FROM preds
),
counts AS (
  SELECT b.threshold, b.label,
         CAST(coalesce(tp.n, 0) AS BIGINT) AS tp,
         CAST(coalesce(pn.n, 0) AS BIGINT) AS pred_n,
         CAST(coalesce(tn.n, 0) AS BIGINT) AS true_n
  FROM base b
  LEFT JOIN (SELECT p.threshold, p.label, count(*) AS n FROM preds p
             WHERE EXISTS (SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
               AND g.h_start = p.h_start AND g.h_end = p.h_end
               AND g.t_start = p.t_start AND g.t_end = p.t_end AND g.label = p.label)
             GROUP BY p.threshold, p.label) tp
    ON tp.threshold = b.threshold AND tp.label = b.label
  LEFT JOIN (SELECT threshold, label, count(*) AS n FROM preds
             GROUP BY threshold, label) pn
    ON pn.threshold = b.threshold AND pn.label = b.label
  LEFT JOIN (SELECT label, count(*) AS n FROM gold GROUP BY label) tn
    ON tn.label = b.label
),
perf AS (
  SELECT threshold, label,
         CASE WHEN pred_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / pred_n END AS p,
         CASE WHEN true_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / true_n END AS r,
         tp, pred_n, true_n
  FROM counts
),
perf2 AS (
  SELECT *, CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END AS f FROM perf
),
agg AS (
  SELECT threshold,
         CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(pred_n) AS BIGINT) AS pred_n,
         CAST(sum(true_n) AS BIGINT) AS true_n,
         list_reduce(list(p ORDER BY label), (a,b) -> a + b) / count(*) AS macro_precision,
         list_reduce(list(r ORDER BY label), (a,b) -> a + b) / count(*) AS macro_recall,
         list_reduce(list(f ORDER BY label), (a,b) -> a + b) / count(*) AS macro_f1
  FROM perf2 GROUP BY threshold
)
SELECT threshold,
       CASE WHEN pred_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / pred_n END AS micro_precision,
       CASE WHEN true_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / true_n END AS micro_recall,
       CASE WHEN (CASE WHEN pred_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / pred_n END)
               + (CASE WHEN true_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / true_n END) = 0
            THEN 0.0
            ELSE 2 * (CASE WHEN pred_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / pred_n END)
                   * (CASE WHEN true_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / true_n END)
                 / ((CASE WHEN pred_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / pred_n END)
                  + (CASE WHEN true_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / true_n END))
       END AS micro_f1,
       macro_precision, macro_recall, macro_f1
FROM agg"""
    return with_chain(cte_scored(), body)


# ---------------------------------------------------------------------------
# Linking + graph materialization
# ---------------------------------------------------------------------------

def _alias_values() -> str:
    return ", ".join(
        f"('{a}', '{cid}')" for a, cid in sorted(c.ALIAS_DICT.items())
    )


CTE_LINKED = f"""
aliases(alias, canonical_id) AS (VALUES {_alias_values()}),
linked AS (
  SELECT t.doc_id,
         coalesce(ha.canonical_id, 'Q:surface:' || lower(t.head_text)) AS subj,
         t.label AS pred,
         coalesce(ta.canonical_id, 'Q:surface:' || lower(t.tail_text)) AS obj,
         t.prob
  FROM triples t
  LEFT JOIN aliases ha ON lower(t.head_text) = ha.alias
  LEFT JOIN aliases ta ON lower(t.tail_text) = ta.alias
)
"""


def q_linked_triples() -> str:
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + "\nSELECT doc_id, subj, pred, obj, prob FROM linked"
    )


def q_graph() -> str:
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
SELECT subj, pred, obj,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       max(prob) AS max_prob,
       min(doc_id) AS min_doc_id
FROM linked GROUP BY subj, pred, obj"""
    )


def q_entity_degrees() -> str:
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
, g AS (
  SELECT subj, pred, obj,
         CAST(count(*) AS BIGINT) AS n_mentions
  FROM linked GROUP BY subj, pred, obj
),
e AS (
  SELECT subj AS entity, 1 AS is_out, pred, n_mentions FROM g
  UNION ALL
  SELECT obj AS entity, 0 AS is_out, pred, n_mentions FROM g
)
SELECT entity,
       CAST(sum(is_out) AS BIGINT) AS out_degree,
       CAST(sum(1 - is_out) AS BIGINT) AS in_degree,
       CAST(count(DISTINCT pred) AS BIGINT) AS n_preds,
       CAST(sum(n_mentions) AS BIGINT) AS weighted_degree
FROM e GROUP BY entity"""
    )


def q_kg_triangles() -> str:
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
, e AS (
  SELECT DISTINCT subj, obj FROM linked WHERE subj <> obj
)
SELECT e1.subj AS a, e1.obj AS b, e2.obj AS c
FROM e e1
JOIN e e2 ON e2.subj = e1.obj AND e2.obj <> e1.subj
JOIN e e3 ON e3.subj = e2.obj AND e3.obj = e1.subj
WHERE e1.subj < e1.obj AND e1.subj < e2.obj"""
    )


def q_two_hop_paths() -> str:
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
, g AS (
  SELECT DISTINCT subj, pred, obj FROM linked
)
SELECT e1.subj AS a, e1.pred AS p1, e1.obj AS b, e2.pred AS p2, e2.obj AS c
FROM g e1 JOIN g e2 ON e1.obj = e2.subj
WHERE e1.subj <> e1.obj AND e2.subj <> e2.obj"""
    )


_CTE_SYM_EDGES = """
ed AS (
  SELECT DISTINCT subj AS a, obj AS b FROM linked WHERE subj <> obj
),
sym AS (
  SELECT a, b FROM ed UNION SELECT b, a FROM ed
)
"""


def q_entity_neighbor_sim() -> str:
    """Mirror of graph.entity_neighbor_sim: undirected neighbor sets
    (sym CTE), stop-node removal at degree > NEIGH_HUB_CAP, candidate
    pairs via shared non-hub neighbor, exact Jaccard as one division
    over integer counts."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + f"""
, {_CTE_SYM_EDGES.strip()},
ndeg AS (
  SELECT a AS ent, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY a
),
capped AS (
  SELECT s.a AS ent, s.b AS nb
  FROM sym s JOIN ndeg d ON d.ent = s.b AND d.deg <= {c.NEIGH_HUB_CAP}
),
cdeg AS (
  SELECT ent, CAST(count(*) AS BIGINT) AS d FROM capped GROUP BY ent
),
p AS (
  SELECT x.ent AS e1, y.ent AS e2, CAST(count(*) AS BIGINT) AS shared
  FROM capped x JOIN capped y ON x.nb = y.nb AND x.ent < y.ent
  GROUP BY x.ent, y.ent
)
SELECT p.e1, p.e2, p.shared, dx.d AS d1, dy.d AS d2,
       CAST(p.shared AS DOUBLE) / CAST(dx.d + dy.d - p.shared AS DOUBLE)
         AS jaccard
FROM p
JOIN cdeg dx ON dx.ent = p.e1
JOIN cdeg dy ON dy.ent = p.e2"""
    )


def q_pred_cooccurrence() -> str:
    """Mirror of graph.pred_cooccurrence: distinct-triple graph,
    per-predicate entity-pair support, same-pair co-occurrence counts,
    two directional confidences as single divisions."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
, g AS (
  SELECT subj, pred, obj FROM linked GROUP BY subj, pred, obj
),
supp AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY pred
),
co AS (
  SELECT a.pred AS p1, b.pred AS p2, CAST(count(*) AS BIGINT) AS n_both
  FROM g a JOIN g b ON a.subj = b.subj AND a.obj = b.obj AND a.pred < b.pred
  GROUP BY a.pred, b.pred
)
SELECT co.p1, co.p2, co.n_both, s1.n AS n_p1, s2.n AS n_p2,
       CAST(co.n_both AS DOUBLE) / CAST(s1.n AS DOUBLE) AS conf_1_to_2,
       CAST(co.n_both AS DOUBLE) / CAST(s2.n AS DOUBLE) AS conf_2_to_1
FROM co JOIN supp s1 ON s1.pred = co.p1 JOIN supp s2 ON s2.pred = co.p2"""
    )


def q_entity_pmi() -> str:
    """Mirror of graph.entity_pmi: per-doc distinct entity sets,
    doc-local pair join, marginals, one exactly-rounded lift division."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
, ents AS (
  SELECT DISTINCT doc_id, ent FROM (
    SELECT doc_id, subj AS ent FROM linked
    UNION ALL
    SELECT doc_id, obj AS ent FROM linked
  )
),
n_e AS (
  SELECT ent, CAST(count(*) AS BIGINT) AS n FROM ents GROUP BY ent
),
nd AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_total FROM ents
),
co AS (
  SELECT a.ent AS e1, b.ent AS e2, CAST(count(*) AS BIGINT) AS n_co
  FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.ent < b.ent
  GROUP BY a.ent, b.ent
)
SELECT co.e1, co.e2, co.n_co, m1.n AS n_e1, m2.n AS n_e2, nd.n_docs_total,
       CAST(co.n_co * nd.n_docs_total AS DOUBLE)
         / CAST(m1.n * m2.n AS DOUBLE) AS lift
FROM co
JOIN n_e m1 ON m1.ent = co.e1
JOIN n_e m2 ON m2.ent = co.e2
CROSS JOIN nd"""
    )


def q_pred_inverse() -> str:
    """Mirror of graph.pred_inverse: reversed-edge join, p1 <= p2
    canonicalization (with subj <= obj for the symmetric diagonal),
    confidences as single divisions."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
, g AS (
  SELECT subj, pred, obj FROM linked GROUP BY subj, pred, obj
),
supp AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY pred
),
co AS (
  SELECT a.pred AS p1, b.pred AS p2, CAST(count(*) AS BIGINT) AS n_inv
  FROM g a JOIN g b ON a.subj = b.obj AND a.obj = b.subj
  WHERE a.pred < b.pred OR (a.pred = b.pred AND a.subj <= a.obj)
  GROUP BY a.pred, b.pred
)
SELECT co.p1, co.p2, co.n_inv, s1.n AS n_p1, s2.n AS n_p2,
       CAST(co.n_inv AS DOUBLE) / CAST(s1.n AS DOUBLE) AS conf_1_to_2,
       CAST(co.n_inv AS DOUBLE) / CAST(s2.n AS DOUBLE) AS conf_2_to_1
FROM co JOIN supp s1 ON s1.pred = co.p1 JOIN supp s2 ON s2.pred = co.p2"""
    )


def q_pred_functionality() -> str:
    """Mirror of graph.pred_functionality: exact distinct counts per
    predicate, two single divisions."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
, g AS (
  SELECT subj, pred, obj FROM linked GROUP BY subj, pred, obj
)
SELECT pred,
       CAST(count(*) AS BIGINT) AS n_triples,
       CAST(count(DISTINCT subj) AS BIGINT) AS n_subj,
       CAST(count(DISTINCT obj) AS BIGINT) AS n_obj,
       CAST(count(DISTINCT subj) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS functionality,
       CAST(count(DISTINCT obj) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS inv_functionality
FROM g GROUP BY pred"""
    )


def q_pred_type_signature() -> str:
    """Mirror of graph.pred_type_signature: the typed thresholded
    relation (threshold -> top-k -> constraints, types kept on the
    row), signature counts + per-pred share."""
    return (
        with_chain(cte_scored(), cte_triples())
        + f"""
, typed AS (
  SELECT label AS pred, h_type AS subj_type, t_type AS obj_type
  FROM thresholded
  WHERE _rk = 1
    AND (allowed_head IS NULL OR list_contains(allowed_head, h_type))
    AND (allowed_tail IS NULL OR list_contains(allowed_tail, t_type))
),
sig AS (
  SELECT pred, subj_type, obj_type, CAST(count(*) AS BIGINT) AS n
  FROM typed GROUP BY pred, subj_type, obj_type
),
tot AS (
  SELECT pred, CAST(sum(n) AS BIGINT) AS n_pred FROM sig GROUP BY pred
)
SELECT sig.pred, sig.subj_type, sig.obj_type, sig.n, tot.n_pred,
       CAST(sig.n AS DOUBLE) / CAST(tot.n_pred AS DOUBLE) AS share
FROM sig JOIN tot ON tot.pred = sig.pred"""
    )


def q_kg_components() -> str:
    """Transitive closure via a recursive reachability CTE; min
    reachable entity = component id (mirrors graph.components'
    min-label fixpoint, which converges to exactly that min)."""
    return (
        with_chain(
            cte_scored(), cte_triples(), CTE_LINKED, _CTE_SYM_EDGES,
            recursive=True,
        )
        + """
, reach(src, node) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.node
),
comp AS (SELECT node AS entity, min(src) AS component_id FROM reach GROUP BY node),
sizes AS (
  SELECT component_id, CAST(count(*) AS BIGINT) AS component_size
  FROM comp GROUP BY component_id
)
SELECT c.entity, c.component_id, s.component_size
FROM comp c JOIN sizes s USING (component_id)"""
    )


def q_kg_kcore(k: int = 2, unroll: int = 30) -> str:
    """K-core peel unrolled `unroll` times — idempotent once the peel
    reaches fixpoint, and graph.kcore raises if Spark needs more than
    the same bound, so the two engines stay in lockstep by contract."""
    # AS MATERIALIZED: each level references the previous one three
    # times; inlined CTEs would expand 3^unroll scans.
    steps = []
    for i in range(1, unroll + 1):
        prev = "sym" if i == 1 else f"lvl{i-1}"
        steps.append(
            f"s{i} AS MATERIALIZED ("
            f"SELECT a FROM {prev} GROUP BY a HAVING count(*) >= {k}),\n"
            f"lvl{i} AS MATERIALIZED (SELECT e.a, e.b FROM {prev} e"
            f" JOIN s{i} x ON x.a = e.a JOIN s{i} y ON y.a = e.b)"
        )
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED, _CTE_SYM_EDGES)
        + ",\n"
        + ",\n".join(steps)
        + f"""
SELECT a AS entity, CAST(count(*) AS BIGINT) AS core_degree
FROM lvl{unroll} GROUP BY a"""
    )


def q_kg_pagerank(
    iters: int = 5, scale: int = 10**9, damping_pct: int = 85
) -> str:
    """Scaled-integer PageRank, iterations unrolled. Every op is BIGINT
    multiply / add / truncating integer division (`//` here, `DIV` in
    Spark — identical on non-negative operands), so the result is
    bit-exact against graph.pagerank_int regardless of evaluation
    order."""
    teleport = (100 - damping_pct) * scale // 100
    steps = []
    for i in range(1, iters + 1):
        p = f"r{i-1}"
        steps.append(f"""
d{i} AS MATERIALIZED (
  SELECT CAST(coalesce(sum(r.rank_scaled), 0) AS BIGINT) AS s
  FROM {p} r LEFT JOIN od ON od.src = r.entity WHERE od.src IS NULL
),
c{i} AS MATERIALIZED (
  SELECT e.dst, CAST(sum(r.rank_scaled // od.odeg) AS BIGINT) AS incoming
  FROM e JOIN od ON od.src = e.src JOIN {p} r ON r.entity = e.src
  GROUP BY e.dst
),
r{i} AS MATERIALIZED (
  SELECT n.entity,
         CAST({teleport} + ({damping_pct} * (coalesce(c.incoming, 0)
              + (SELECT s FROM d{i}) // (SELECT n FROM nn))) // 100 AS BIGINT)
           AS rank_scaled
  FROM nodes n LEFT JOIN c{i} c ON c.dst = n.entity
)""")
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + f"""
, e AS (
  SELECT DISTINCT subj AS src, obj AS dst FROM linked WHERE subj <> obj
),
nodes AS (SELECT src AS entity FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
od AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM e GROUP BY src),
r0 AS MATERIALIZED (SELECT entity, CAST({scale} AS BIGINT) AS rank_scaled FROM nodes),
"""
        + ",".join(steps)
        + f"\nSELECT entity, rank_scaled FROM r{iters}"
    )


# --------------------------------------------------------------------------
# Tensor-plane golden (triples_neural)
# --------------------------------------------------------------------------

# The neural scorer is a deterministic test double, so its expected
# output is precomputed OUTSIDE Spark by tools/gen_golden.py (pandas +
# numpy + the DuckDB mentions oracle) and committed under goldens/.
# The oracle dispatches on sum(length(text)) — a content signature that
# distinguishes the driver's scale factors (sf0.001 and sf0.01 both have
# 500 docs, so count(*) alone cannot).
_GOLDEN_SIGS = {"sf0.001": 153156, "sf0.01": 149174, "sf0.1": 1485576}


def q_triples_neural() -> str:
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "goldens"
    arms = "\nUNION ALL\n".join(
        f"SELECT * FROM read_parquet('{root}/{sf}/triples_neural.parquet')"
        f" WHERE (SELECT s FROM sig) = {s}"
        for sf, s in _GOLDEN_SIGS.items()
    )
    return f"WITH sig AS (SELECT sum(length(text)) AS s FROM documents)\n{arms}"


# --------------------------------------------------------------------------
# Reference eval-protocol replay on the committed WikiZSL-shaped fixture
# --------------------------------------------------------------------------

# Per-label counts are the committed outside-Spark protocol replay
# (tools/gen_golden.py expected_refeval_counts — pure json + numpy, no
# Spark); the metrics row is then RECOMPUTED in SQL from those counts
# with the same A1-A3 arithmetic as q_eval_metrics, so the division /
# macro-fold plane is genuinely cross-engine-checked, not golden-read.

def q_refeval_counts() -> str:
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "goldens"
    return (
        "SELECT label, tp, pred_n, true_n "
        f"FROM read_parquet('{root}/refeval_counts.parquet')"
    )


def q_refeval_metrics() -> str:
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "goldens"
    return (
        "WITH counts AS (SELECT label, tp, pred_n, true_n "
        f"FROM read_parquet('{root}/refeval_counts.parquet')),\n"
        + _METRIC_SQL
    )


def q_docred_neural_counts() -> str:
    """Committed outside-Spark protocol replay of the neural double on
    the real Re-DocRED dev split (tools/gen_golden.py
    expected_docred_neural_counts — pure json + numpy, no Spark)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "goldens"
    return (
        "SELECT label, tp, pred_n, true_n "
        f"FROM read_parquet('{root}/docred_neural_counts.parquet')"
    )


def q_docred_eval_neural() -> str:
    """Metrics RECOMPUTED in SQL from the committed neural counts with
    the same A1-A2 arithmetic as q_eval_metrics — the division / macro
    sorted-fold plane is cross-engine-checked, not golden-read."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "goldens"
    return (
        "WITH counts AS (SELECT label, tp, pred_n, true_n "
        f"FROM read_parquet('{root}/docred_neural_counts.parquet')),\n"
        + _METRIC_SQL
    )


# --------------------------------------------------------------------------
# Re-DocRED ingestion twins: DuckDB re-reads the reference repo's own
# evaluation data files (JSON arrays) and independently re-derives the
# mention/gold-triple relations the Spark source produces — a genuine
# cross-engine check on real reference data, no goldens involved.
# --------------------------------------------------------------------------

_DOCRED_READ = (
    f"read_json('{c.DOCRED_DEV}', maximum_object_size=104857600)"
)


def q_docred_mentions() -> str:
    return f"""
WITH docs AS (
  SELECT title, sents, vertexSet FROM {_DOCRED_READ}
),
ent AS (
  SELECT title AS doc_title, sents,
         generate_subscripts(vertexSet, 1) - 1 AS entity_id,
         unnest(vertexSet) AS ms
  FROM docs
),
men AS (
  SELECT doc_title, sents, CAST(entity_id AS BIGINT) AS entity_id,
         CAST(generate_subscripts(ms, 1) - 1 AS BIGINT) AS mention_idx,
         unnest(ms) AS m
  FROM ent
)
SELECT doc_title, entity_id, mention_idx, m.type AS type, m.name AS name,
       m.sent_id AS sent_id,
       CAST(list_reduce(list_prepend(0,
              list_transform(sents[1:m.sent_id], s -> len(s))),
            (a,b) -> a + b) + m.pos[1] AS BIGINT) AS start_tok,
       CAST(list_reduce(list_prepend(0,
              list_transform(sents[1:m.sent_id], s -> len(s))),
            (a,b) -> a + b) + m.pos[2] AS BIGINT) AS end_tok
FROM men"""


def q_docred_pairs() -> str:
    return f"""
WITH docs AS (
  SELECT title, vertexSet, labels FROM {_DOCRED_READ}
),
ent AS (
  SELECT title, generate_subscripts(vertexSet, 1) - 1 AS eid,
         unnest(vertexSet) AS ms
  FROM docs
),
e AS (
  SELECT title, CAST(eid AS BIGINT) AS eid,
         ms[1].type AS type, ms[1].name AS name
  FROM ent
),
lab AS (
  SELECT title, l.h AS h, l.t AS t, l.r AS pid
  FROM (SELECT title, unnest(labels) AS l FROM docs)
),
g AS (
  SELECT title, h, t, list_sort(list(pid)) AS rs,
         CAST(count(*) AS BIGINT) AS n_gold
  FROM lab GROUP BY title, h, t
)
SELECT a.title AS doc_title, a.eid AS h_id, b.eid AS t_id,
       a.type AS h_type, b.type AS t_type,
       a.name AS h_name, b.name AS t_name,
       coalesce(array_to_string(g.rs, '|'), '') AS gold_pids,
       coalesce(g.n_gold, 0) AS n_gold
FROM e a JOIN e b ON a.title = b.title AND a.eid <> b.eid
LEFT JOIN g ON g.title = a.title AND g.h = a.eid AND g.t = b.eid"""


def q_docred_distant_mentions() -> str:
    return f"""
WITH docs AS (
  SELECT title AS doc_title, flatten(sents) AS toks, vertexSet
  FROM {_DOCRED_READ}
),
men AS (
  SELECT unnest(flatten(vertexSet)) AS m FROM {_DOCRED_READ}
),
gaz AS (
  SELECT m.name AS surface,
         CAST(len(string_split(m.name, ' ')) AS BIGINT) AS n,
         array_to_string(list_sort(list(DISTINCT m.type)), '|') AS types
  FROM men GROUP BY m.name
),
lens AS (SELECT DISTINCT n FROM gaz),
cand AS (
  SELECT doc_title, n,
         CAST(unnest(range(greatest(len(toks) - n + 1, 0))) AS BIGINT)
           AS start_tok,
         toks
  FROM docs CROSS JOIN lens
),
surf AS (
  SELECT doc_title, n, start_tok,
         array_to_string(toks[start_tok + 1 : start_tok + n], ' ') AS surface
  FROM cand
)
SELECT s.doc_title, s.start_tok, s.start_tok + s.n AS end_tok,
       s.surface, g.types
FROM surf s JOIN gaz g ON g.surface = s.surface AND g.n = s.n"""


def q_docred_distant_triples() -> str:
    return f"""
WITH docs AS (
  SELECT title, flatten(sents) AS toks, vertexSet, labels
  FROM {_DOCRED_READ}
),
men AS (SELECT unnest(flatten(vertexSet)) AS m FROM docs),
gaz AS (
  SELECT m.name AS surface,
         CAST(len(string_split(m.name, ' ')) AS BIGINT) AS n
  FROM men GROUP BY m.name
),
lens AS (SELECT DISTINCT n FROM gaz),
cand AS (
  SELECT title AS doc_title, n,
         CAST(unnest(range(greatest(len(toks) - n + 1, 0))) AS BIGINT)
           AS start_tok,
         toks
  FROM docs CROSS JOIN lens
),
surf AS (
  SELECT doc_title, n, start_tok,
         array_to_string(toks[start_tok + 1 : start_tok + n], ' ') AS surface
  FROM cand
),
dm AS (
  SELECT DISTINCT s.doc_title, s.surface
  FROM surf s JOIN gaz g ON g.surface = s.surface AND g.n = s.n
),
pairs AS (
  SELECT a.doc_title, a.surface AS h_name, b.surface AS t_name
  FROM dm a JOIN dm b
    ON a.doc_title = b.doc_title AND a.surface <> b.surface
),
lab AS (
  SELECT title AS gold_doc,
         vertexSet[l.h + 1][1].name AS h_name,
         l.r AS pid,
         vertexSet[l.t + 1][1].name AS t_name
  FROM (SELECT title, vertexSet, unnest(labels) AS l FROM docs)
),
gold AS (
  SELECT h_name, pid, t_name, list(DISTINCT gold_doc) AS gold_docs
  FROM lab WHERE h_name <> t_name GROUP BY h_name, pid, t_name
),
sup AS (
  SELECT p.h_name, g.pid, p.t_name, p.doc_title,
         NOT list_contains(g.gold_docs, p.doc_title) AS is_new
  FROM pairs p JOIN gold g
    ON g.h_name = p.h_name AND g.t_name = p.t_name
)
SELECT h_name, pid, t_name,
       CAST(count(DISTINCT doc_title) AS BIGINT) AS n_support_docs,
       CAST(count(DISTINCT CASE WHEN is_new THEN doc_title END) AS BIGINT)
         AS n_new_docs
FROM sup GROUP BY h_name, pid, t_name"""


def _docred_typed_sql(alias: str, path: str) -> str:
    """CTE chain deriving the typed gold-label relation `{alias}` from
    a DocRED-format file (suffix keeps eval/prior sources distinct)."""
    read = f"read_json('{path}', maximum_object_size=104857600)"
    return f"""
docs_{alias} AS (
  SELECT title, vertexSet, labels FROM {read}
),
ent_{alias} AS (
  SELECT title, generate_subscripts(vertexSet, 1) - 1 AS eid,
         unnest(vertexSet) AS ms
  FROM docs_{alias}
),
e_{alias} AS (
  SELECT title, CAST(eid AS BIGINT) AS eid, ms[1].type AS type
  FROM ent_{alias}
),
lab_{alias} AS (
  SELECT title, l.h AS h, l.t AS t, l.r AS pid
  FROM (SELECT title, unnest(labels) AS l FROM docs_{alias})
),
{alias} AS (
  SELECT lab_{alias}.title, lab_{alias}.h, lab_{alias}.t, lab_{alias}.pid,
         eh.type AS h_type, et.type AS t_type
  FROM lab_{alias}
  JOIN e_{alias} eh ON eh.title = lab_{alias}.title
                   AND eh.eid = lab_{alias}.h
  JOIN e_{alias} et ON et.title = lab_{alias}.title
                   AND et.eid = lab_{alias}.t
)"""


def q_docred_type_prior_eval(
    eval_path: str = c.DOCRED_DEV, prior_path: str | None = None
) -> str:
    """Type-prior eval twin. prior_path=None fits the prior on the eval
    split itself (in-sample); a distinct path is the held-out form
    (unseen type signatures predict nothing but keep their gold labels
    in the recall denominator — LEFT join, like the Spark side)."""
    ctes = [_docred_typed_sql("typed", eval_path).strip()]
    if prior_path is None or prior_path == eval_path:
        prior_src = "typed"
    else:
        ctes.append(_docred_typed_sql("ptyped", prior_path).strip())
        prior_src = "ptyped"
    body = f"""
by_sig AS (
  SELECT h_type, t_type, pid, count(*) AS cnt
  FROM {prior_src} GROUP BY h_type, t_type, pid
),
ranked AS (
  SELECT h_type, t_type, pid AS pred_pid,
         row_number() OVER (PARTITION BY h_type, t_type
                            ORDER BY cnt DESC, pid ASC) AS rk
  FROM by_sig
),
prior AS (SELECT h_type, t_type, pred_pid FROM ranked WHERE rk = 1),
annotated AS (
  SELECT title, h, t, h_type, t_type, list(pid) AS gold
  FROM typed GROUP BY title, h, t, h_type, t_type
),
pred AS (
  SELECT a.gold, p.pred_pid
  FROM annotated a LEFT JOIN prior p
    ON p.h_type = a.h_type AND p.t_type = a.t_type
),
agg AS (
  SELECT CAST(sum(CASE WHEN pred_pid IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS pred_n,
         CAST(sum(len(gold)) AS BIGINT) AS true_n,
         CAST(sum(CASE WHEN list_contains(gold, pred_pid)
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM pred
)
SELECT pred_n, true_n, tp,
       CAST(tp AS DOUBLE) / CAST(pred_n AS DOUBLE) AS precision_micro,
       CAST(tp AS DOUBLE) / CAST(true_n AS DOUBLE) AS recall_micro,
       CAST(2 * tp AS DOUBLE) / CAST(pred_n + true_n AS DOUBLE) AS f1_micro
FROM agg"""
    return "WITH " + ",\n".join(ctes) + ",\n" + body.strip()


def q_docred_gold() -> str:
    return f"""
WITH docs AS (
  SELECT title, vertexSet, labels FROM {_DOCRED_READ}
),
props AS (
  SELECT regexp_extract(property, 'P[0-9]+$') AS pid,
         propertyLabel AS pred_label
  FROM read_json('{c.WIKIDATA_PROPERTIES}')
),
lab AS (
  SELECT title, vertexSet, unnest(labels) AS l FROM docs
)
SELECT title AS doc_title,
       vertexSet[l.h + 1][1].name AS h_name,
       l.r AS pid,
       p.pred_label,
       vertexSet[l.t + 1][1].name AS t_name,
       CAST(len(l.evidence) AS BIGINT) AS n_evidence
FROM lab LEFT JOIN props p ON p.pid = l.r"""


CTE_GM = """
gm AS (
  SELECT subj, pred, obj, CAST(count(*) AS BIGINT) AS n_mentions
  FROM linked GROUP BY subj, pred, obj
)
"""


def q_kg_fusion() -> str:
    """Mirror of graph.kg_fusion: per-(subj,pred) argmax object by
    (n_mentions DESC, obj ASC) via row_number, slot totals, one
    exactly-rounded share division."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED, CTE_GM)
        + """
, tot AS (
  SELECT subj, pred,
         CAST(sum(n_mentions) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS n_objects
  FROM gm GROUP BY subj, pred
),
w AS (
  SELECT subj, pred, obj, n_mentions,
         row_number() OVER (
           PARTITION BY subj, pred ORDER BY n_mentions DESC, obj ASC
         ) AS rn
  FROM gm
)
SELECT w.subj, w.pred, w.obj,
       CAST(w.n_mentions AS BIGINT) AS n_support,
       t.n_objects, t.n_total,
       CAST(w.n_mentions AS DOUBLE) / CAST(t.n_total AS DOUBLE)
         AS support_share
FROM w JOIN tot t ON t.subj = w.subj AND t.pred = w.pred
WHERE w.rn = 1"""
    )


def q_kg_adjacency() -> str:
    """Mirror of graph.kg_adjacency: sorted '|'-joined posting list per
    subject over the materialized graph rows."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED, CTE_GM)
        + """
SELECT subj,
       CAST(count(*) AS BIGINT) AS out_degree,
       CAST(sum(n_mentions) AS BIGINT) AS n_mentions,
       string_agg(pred || '|' || obj, ',' ORDER BY pred || '|' || obj)
         AS adjacency
FROM gm GROUP BY subj"""
    )


def _char_hash_sql(expr: str) -> str:
    """The per-character polynomial hash (corpus_dedup._char_hash /
    oracle_corpus.CTE_THASH arithmetic) over an arbitrary SQL string
    expression."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), "
        "ch -> CAST(ascii(ch) AS BIGINT))), "
        f"(a, b) -> (a * {c.SHINGLE_BASE} + b) % {c.HASH_P})"
    )


def q_kg_negative_samples() -> str:
    """Mirror of graph.kg_negative_samples: bucketed dense entity index
    (row_number over (bucket, entity) == the two-stage Spark offsets),
    deterministic polyhash tail corruption, filtered-negative flag."""
    edge_h = _char_hash_sql("subj || chr(31) || pred || chr(31) || obj")
    ent_b = _char_hash_sql("entity")
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + f"""
, g AS (
  SELECT DISTINCT subj, pred, obj FROM linked
),
ents AS (
  SELECT DISTINCT entity FROM (
    SELECT subj AS entity FROM g UNION ALL SELECT obj FROM g
  )
),
idx AS (
  SELECT entity,
         CAST(row_number() OVER (
           ORDER BY {ent_b} % 64, entity
         ) AS BIGINT) AS idx
  FROM ents
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_entities FROM ents),
edges AS (
  SELECT subj, pred, obj, {edge_h} AS h FROM g
)
SELECT e.subj, e.pred, e.obj, i.entity AS neg_obj,
       (t.subj IS NULL) AS is_clean
FROM edges e
CROSS JOIN ne
JOIN idx i ON i.idx = (e.h % ne.n_entities) + 1
LEFT JOIN g t
  ON t.subj = e.subj AND t.pred = e.pred AND t.obj = i.entity"""
    )


def q_kg_link_pred(top_n: int = 100) -> str:
    """Mirror of graph.kg_link_pred: symmetric neighbor relation, wedge
    self-join, anti-join on existing undirected edges, deterministic
    top-N."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + f"""
, e AS (
  SELECT DISTINCT subj, obj FROM linked WHERE subj <> obj
),
nb AS (
  SELECT DISTINCT x, y FROM (
    SELECT subj AS x, obj AS y FROM e
    UNION ALL
    SELECT obj AS x, subj AS y FROM e
  )
),
cn AS (
  SELECT l.x AS a, r.x AS b, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM nb l JOIN nb r ON l.y = r.y AND l.x < r.x
  GROUP BY l.x, r.x
)
SELECT cn.a, cn.b, cn.common_neighbors
FROM cn
WHERE NOT EXISTS (
  SELECT 1 FROM nb WHERE nb.x = cn.a AND nb.y = cn.b
)
ORDER BY cn.common_neighbors DESC, cn.a, cn.b
LIMIT {top_n}"""
    )


def q_er_edit_pairs(max_dist: int = 2) -> str:
    """Mirror of linking.er_edit_pairs: distinct lowercased surface
    forms, first-char + length-band blocking, Levenshtein verify."""
    return (
        with_chain()
        + f"""
, names AS (
  SELECT DISTINCT lower(text) AS name FROM mentions
)
SELECT l.name AS e1, r.name AS e2,
       CAST(levenshtein(l.name, r.name) AS BIGINT) AS dist
FROM names l
JOIN names r
  ON substr(l.name, 1, 1) = substr(r.name, 1, 1)
 AND l.name < r.name
 AND abs(length(l.name) - length(r.name)) <= {max_dist}
WHERE levenshtein(l.name, r.name) <= {max_dist}"""
    )


def q_kg_bfs(max_iter: int = 30) -> str:
    """Mirror of graph.kg_bfs: bounded-depth recursive walk from the
    min entity, UNION-deduped (node, d) states, min(d) = hop distance.
    Depth bound matches the Spark raise-on-live-frontier contract."""
    return (
        with_chain(
            cte_scored(), cte_triples(), CTE_LINKED, _CTE_SYM_EDGES,
            recursive=True,
        )
        + f"""
, seed AS (SELECT min(a) AS s FROM sym),
walk(node, d) AS (
  SELECT s, 0 FROM seed
  UNION
  SELECT sym.b, w.d + 1 FROM walk w JOIN sym ON sym.a = w.node
  WHERE w.d < {max_iter}
)
SELECT node AS entity, CAST(min(d) AS BIGINT) AS dist
FROM walk GROUP BY node"""
    )


def q_kg_degree_dist() -> str:
    """Mirror of graph.kg_degree_dist: histogram over total (out + in)
    degree of the materialized edge multiset."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED, CTE_GM)
        + """
, e AS (
  SELECT subj AS entity, 1 AS is_out FROM gm
  UNION ALL
  SELECT obj AS entity, 0 AS is_out FROM gm
),
deg AS (
  SELECT entity, CAST(count(*) AS BIGINT) AS degree FROM e GROUP BY entity
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_entities
FROM deg GROUP BY degree"""
    )


def q_entity_types() -> str:
    """Mirror of linking.entity_types: broadcast-alias canonicalization
    of mention surfaces, (entity, type) profile, one share division."""
    return (
        with_chain()
        + f"""
, aliases(alias, canonical_id) AS (VALUES {_alias_values()}),
me AS (
  SELECT coalesce(a.canonical_id, 'Q:surface:' || lower(m.text)) AS entity,
         m.type
  FROM mentions m LEFT JOIN aliases a ON lower(m.text) = a.alias
),
per AS (
  SELECT entity, type, CAST(count(*) AS BIGINT) AS n
  FROM me GROUP BY entity, type
),
tot AS (
  SELECT entity, CAST(sum(n) AS BIGINT) AS n_entity FROM per GROUP BY entity
)
SELECT p.entity, p.type, p.n, t.n_entity,
       CAST(p.n AS DOUBLE) / CAST(t.n_entity AS DOUBLE) AS share
FROM per p JOIN tot t ON t.entity = p.entity"""
    )


def q_kg_inferred_triples(min_conf: float = 0.5, min_support: int = 2) -> str:
    """Mirror of graph.kg_inferred_triples: pred_inverse rule table,
    broadcast-shaped rule application, best-rule dedup, novelty
    anti-join. Confidence arithmetic repeats q_pred_inverse exactly so
    the doubles are bit-identical."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + f"""
, g AS (
  SELECT subj, pred, obj FROM linked GROUP BY subj, pred, obj
),
supp AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY pred
),
inv AS (
  SELECT a.pred AS p1, b.pred AS p2, CAST(count(*) AS BIGINT) AS n_inv
  FROM g a JOIN g b ON a.subj = b.obj AND a.obj = b.subj
  WHERE a.pred < b.pred OR (a.pred = b.pred AND a.subj <= a.obj)
  GROUP BY a.pred, b.pred
),
rules0 AS (
  SELECT inv.p1, inv.p2, inv.n_inv,
         CAST(inv.n_inv AS DOUBLE) / CAST(s1.n AS DOUBLE) AS c12,
         CAST(inv.n_inv AS DOUBLE) / CAST(s2.n AS DOUBLE) AS c21
  FROM inv JOIN supp s1 ON s1.pred = inv.p1 JOIN supp s2 ON s2.pred = inv.p2
),
r AS (
  SELECT p1 AS src, p2 AS dst, c12 AS conf FROM rules0
  WHERE c12 >= {min_conf} AND n_inv >= {min_support}
  UNION ALL
  SELECT p2 AS src, p1 AS dst, c21 AS conf FROM rules0
  WHERE c21 >= {min_conf} AND n_inv >= {min_support} AND p1 <> p2
),
inf AS (
  SELECT g.obj AS subj, r.dst AS pred, g.subj AS obj,
         r.src AS src_pred, r.conf
  FROM g JOIN r ON g.pred = r.src
),
best AS (
  SELECT subj, pred, obj, src_pred, conf,
         row_number() OVER (
           PARTITION BY subj, pred, obj ORDER BY conf DESC, src_pred ASC
         ) AS rn
  FROM inf
)
SELECT b.subj, b.pred, b.obj, b.src_pred, b.conf
FROM best b
WHERE b.rn = 1
  AND NOT EXISTS (
    SELECT 1 FROM g t
    WHERE t.subj = b.subj AND t.pred = b.pred AND t.obj = b.obj
  )"""
    )


def q_kg_evidence() -> str:
    """Mirror of graph.kg_evidence: per-(triple, doc) dedup, then the
    spo rollup with sorted ','-joined doc postings."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
, pd AS (
  SELECT subj, pred, obj, doc_id, max(prob) AS p
  FROM linked GROUP BY subj, pred, obj, doc_id
)
SELECT subj, pred, obj,
       CAST(count(*) AS BIGINT) AS n_docs,
       max(p) AS max_prob,
       string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
FROM pd GROUP BY subj, pred, obj"""
    )


def q_pred_top_entities(k: int = 5) -> str:
    """Mirror of graph.pred_top_entities: per-(pred, subj) totals, then
    a per-pred row_number under (n DESC, subj ASC)."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED, CTE_GM)
        + f"""
, per AS (
  SELECT pred, subj, CAST(sum(n_mentions) AS BIGINT) AS n_mentions
  FROM gm GROUP BY pred, subj
)
SELECT pred,
       CAST(row_number() OVER (
         PARTITION BY pred ORDER BY n_mentions DESC, subj ASC
       ) AS BIGINT) AS rank,
       subj, n_mentions
FROM per
QUALIFY rank <= {k}"""
    )


def q_kg_ntriples() -> str:
    """Mirror of graph.kg_ntriples: fixed-IRI line formatting over the
    distinct edge set."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED, CTE_GM)
        + """
SELECT '<e/' || replace(subj, ' ', '_') || '> <p/'
       || replace(pred, ' ', '_') || '> <e/'
       || replace(obj, ' ', '_') || '> .' AS ntriple
FROM gm"""
    )


def q_pred_path_cooccurrence() -> str:
    """Mirror of graph.pred_path_cooccurrence: bridge wedge join over
    the distinct edge set, path + distinct-bridge counts."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
, g AS (
  SELECT subj, pred, obj FROM linked
  WHERE subj <> obj GROUP BY subj, pred, obj
),
w AS (
  SELECT l.pred AS p1, r.pred AS p2, l.obj AS b
  FROM g l JOIN g r ON r.subj = l.obj
),
paths AS (
  SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_paths FROM w GROUP BY p1, p2
),
bridges AS (
  SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_bridges
  FROM (SELECT DISTINCT p1, p2, b FROM w) GROUP BY p1, p2
)
SELECT p.p1, p.p2, p.n_paths, b.n_bridges
FROM paths p JOIN bridges b ON b.p1 = p.p1 AND b.p2 = p.p2"""
    )


def _cte_er(max_dist: int = 2) -> str:
    """Shared ER-cluster chain: blocked-Levenshtein pairs -> recursive
    transitive closure -> (name, canonical) mapping with singleton
    default (mirror of linking.er_clusters' min-label fixpoint, which
    converges to exactly min-reachable-name)."""
    return f"""
names AS (SELECT DISTINCT lower(text) AS name FROM mentions),
eredges AS (
  SELECT l.name AS e1, r.name AS e2
  FROM names l JOIN names r
    ON substr(l.name, 1, 1) = substr(r.name, 1, 1)
   AND l.name < r.name
   AND abs(length(l.name) - length(r.name)) <= {max_dist}
  WHERE levenshtein(l.name, r.name) <= {max_dist}
),
ersym AS (
  SELECT e1 AS a, e2 AS b FROM eredges
  UNION ALL
  SELECT e2 AS a, e1 AS b FROM eredges
),
erreach(src, node) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM ersym)
  UNION
  SELECT r.src, s.b FROM erreach r JOIN ersym s ON s.a = r.node
),
ercomp AS (
  SELECT node AS name, min(src) AS canonical FROM erreach GROUP BY node
),
ermap AS (
  SELECT n.name, coalesce(c.canonical, n.name) AS canonical
  FROM names n LEFT JOIN ercomp c ON c.name = n.name
)
"""


def q_er_clusters() -> str:
    return (
        with_chain(_cte_er(), recursive=True)
        + """
, ersizes AS (
  SELECT canonical, CAST(count(*) AS BIGINT) AS cluster_size
  FROM ermap GROUP BY canonical
)
SELECT m.name, m.canonical, s.cluster_size
FROM ermap m JOIN ersizes s USING (canonical)"""
    )


def q_kg_canonicalized() -> str:
    """Mirror of linking.canonicalized_graph: triples' surface forms
    rewritten through the ER-cluster mapping, then re-aggregated."""
    return (
        with_chain(cte_scored(), cte_triples(), _cte_er(), recursive=True)
        + """
, ct AS (
  SELECT lower(head_text) AS h_name, lower(tail_text) AS t_name,
         label AS pred, doc_id
  FROM triples
),
cj AS (
  SELECT hm.canonical AS subj, ct.pred, tm.canonical AS obj,
         ct.doc_id, ct.h_name, ct.t_name
  FROM ct
  JOIN ermap hm ON hm.name = ct.h_name
  JOIN ermap tm ON tm.name = ct.t_name
)
SELECT subj, pred, obj,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT h_name) AS BIGINT) AS n_subj_surfaces,
       CAST(count(DISTINCT t_name) AS BIGINT) AS n_obj_surfaces
FROM cj GROUP BY subj, pred, obj"""
    )


def q_kg_walks(walk_len: int | None = None) -> str:
    """Mirror of graph.kg_walks: salted-hash successor table over the
    symmetric edge set (argmin per (t, node) with ties by neighbor),
    then walk composition as ``walk_len`` joins. The hash is the same
    per-character polynomial fold as corpus_dedup._char_hash."""
    L = walk_len if walk_len is not None else c.WALK_LEN
    joins = "\n".join(
        f"JOIN succ s{t} ON s{t}.t = {t} AND s{t}.a = "
        + ("n.a" if t == 1 else f"s{t-1}.nxt")
        for t in range(1, L + 1)
    )
    cols = ", ".join(f"s{t}.nxt AS n{t}" for t in range(1, L + 1))
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED, _CTE_SYM_EDGES)
        + f"""
, steps AS (
  SELECT t.t, s.a, s.b,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(
               string_split('{c.WALK_SALT}' || CAST(t.t AS VARCHAR)
                            || ':' || s.a || '>' || s.b, ''),
               ch -> CAST(ascii(ch) AS BIGINT))),
           (x, y) -> (x * {c.SHINGLE_BASE} + y) % {c.HASH_P}) AS h
  FROM sym s CROSS JOIN (SELECT unnest(range(1, {L + 1})) AS t) t
),
succ AS (
  SELECT t, a, b AS nxt FROM (
    SELECT t, a, b,
           row_number() OVER (PARTITION BY t, a ORDER BY h, b) AS rn
    FROM steps)
  WHERE rn = 1
),
nodes AS (SELECT DISTINCT a FROM sym)
SELECT n.a AS entity, {cols}
FROM nodes n
{joins}"""
    )


def q_kg_distant_supervision(min_support: int | None = None) -> str:
    """Mirror of graph.kg_distant_supervision: doc-local ordered
    entity-pair co-occurrence joined against the distinct KB, left
    marker join against per-doc extracted triples, per-triple support
    counts with the min-support gate."""
    ms = min_support if min_support is not None else c.DS_MIN_SUPPORT
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + f"""
, ents AS (
  SELECT DISTINCT doc_id, subj AS ent FROM linked
  UNION
  SELECT DISTINCT doc_id, obj AS ent FROM linked
),
cooc AS (
  SELECT l.doc_id, l.ent AS subj, r.ent AS obj
  FROM ents l JOIN ents r ON l.doc_id = r.doc_id AND l.ent <> r.ent
),
kb AS (SELECT DISTINCT subj, pred, obj FROM linked),
extracted AS (SELECT DISTINCT doc_id, subj, pred, obj FROM linked),
aligned AS (
  SELECT co.doc_id, co.subj, k.pred, co.obj,
         (e.doc_id IS NULL) AS is_new
  FROM cooc co
  JOIN kb k ON k.subj = co.subj AND k.obj = co.obj
  LEFT JOIN extracted e
    ON e.doc_id = co.doc_id AND e.subj = co.subj
   AND e.pred = k.pred AND e.obj = co.obj
)
SELECT subj, pred, obj,
       CAST(count(*) AS BIGINT) AS n_support_docs,
       CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new_docs,
       coalesce(min(CASE WHEN is_new THEN doc_id END), '') AS first_new_doc
FROM aligned
GROUP BY subj, pred, obj
HAVING count(*) >= {ms}"""
    )


def q_kg_skipgram_pairs(
    walk_len: int | None = None, window: int | None = None
) -> str:
    """Mirror of graph.kg_skipgram_pairs: the walk relation (q_kg_walks
    as a subquery), position pairs within the window, ordered-pair
    counts."""
    L = walk_len if walk_len is not None else c.WALK_LEN
    W = window if window is not None else c.SKIPGRAM_WINDOW
    path = "[" + ", ".join(["entity"] + [f"n{t}" for t in range(1, L + 1)]) + "]"
    return f"""
WITH walks AS ({q_kg_walks(L)}),
paths AS (SELECT {path} AS p FROM walks),
pos AS (SELECT p, unnest(range(0, {L + 1})) AS i FROM paths),
pairs AS (
  SELECT p[i + 1] AS center, p[j + 1] AS context
  FROM (SELECT p, i, unnest(range(0, {L + 1})) AS j FROM pos)
  WHERE i <> j AND abs(i - j) <= {W}
)
SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY center, context"""


def q_kg_closure(pred: str | None = None, max_iter: int = 30) -> str:
    """Mirror of graph.kg_closure: bounded-depth recursive reachability
    over one predicate's distinct edge set (self-pairs excluded),
    min(d) per (src, dst) = shortest path length."""
    p = pred if pred is not None else c.CLOSURE_PRED
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED, recursive=True)
        + f"""
, e AS (
  SELECT DISTINCT subj AS src, obj AS dst FROM linked
  WHERE pred = '{p}' AND subj <> obj
),
walk(src, dst, d) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT w.src, e.dst, w.d + 1
  FROM walk w JOIN e ON e.src = w.dst
  WHERE w.d < {max_iter} AND w.src <> e.dst
)
SELECT src, dst, CAST(min(d) AS BIGINT) AS dist
FROM walk GROUP BY src, dst"""
    )


def q_entity_salience() -> str:
    """Mirror of linking.entity_salience: broadcast-alias canonical
    entities, per-(doc, entity) frequency + position aggregates, and
    the integer lead_milli position-decay score."""
    return (
        with_chain()
        + f"""
, aliases(alias, canonical_id) AS (VALUES {_alias_values()}),
me AS (
  SELECT m.doc_id,
         coalesce(a.canonical_id, 'Q:surface:' || lower(m.text)) AS entity,
         m.start
  FROM mentions m LEFT JOIN aliases a ON lower(m.text) = a.alias
),
per AS (
  SELECT doc_id, entity,
         CAST(count(*) AS BIGINT) AS n_mentions,
         CAST(min(start) AS BIGINT) AS first_pos,
         CAST(max(start) AS BIGINT) AS last_pos
  FROM me GROUP BY doc_id, entity
),
dn AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
  FROM toks GROUP BY doc_id
)
SELECT p.doc_id, p.entity, p.n_mentions, p.first_pos, p.last_pos,
       d.n_tokens,
       CAST(((d.n_tokens - p.first_pos) * 1000) // d.n_tokens AS BIGINT)
         AS lead_milli
FROM per p JOIN dn d ON d.doc_id = p.doc_id"""
    )


def q_kg_label_prop(rounds: int | None = None) -> str:
    """Mirror of graph.kg_label_prop: fixed-round synchronous LPA,
    each round unrolled as a (move labels, count, argmax) CTE layer;
    argmax = row_number ordered by (n DESC, label)."""
    R = rounds if rounds is not None else c.LP_ROUNDS
    layers = []
    for r in range(1, R + 1):
        prev = f"lab{r - 1}"
        layers.append(
            f"""m{r} AS (
  SELECT s.b AS node, l.label FROM sym s JOIN {prev} l ON l.node = s.a
),
c{r} AS (
  SELECT node, label, CAST(count(*) AS BIGINT) AS n
  FROM m{r} GROUP BY node, label
),
lab{r} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn
    FROM c{r})
  WHERE rn = 1
)"""
        )
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED, _CTE_SYM_EDGES)
        + f"""
, lab0 AS (
  SELECT a AS node, a AS label FROM (SELECT DISTINCT a FROM sym)
),
{",".join(layers)}
SELECT node AS entity, label AS community FROM lab{R}"""
    )


def q_er_sorted_neighborhood(window: int | None = None) -> str:
    """Mirror of linking.er_sorted_neighborhood: global name rank (one
    window at oracle scale; the engine's distributed prefix sum must
    produce the identical ranking), next-W neighbor pairs, rank gap +
    Levenshtein census."""
    W = window if window is not None else c.SN_WINDOW
    return (
        with_chain()
        + f"""
, names AS (SELECT DISTINCT lower(text) AS name FROM mentions),
ranked AS (
  SELECT name,
         row_number() OVER (ORDER BY name) - 1 AS rank
  FROM names
)
SELECT l.name AS e1, r.name AS e2,
       CAST(r.rank - l.rank AS BIGINT) AS gap,
       CAST(levenshtein(l.name, r.name) AS BIGINT) AS dist
FROM ranked l
JOIN ranked r ON r.rank > l.rank AND r.rank <= l.rank + {W}"""
    )


def q_kg_bipartite_audit() -> str:
    """Mirror of graph.kg_bipartite_audit: component reachability
    recursion + parity-walk recursion from the per-component min seed,
    both to natural fixpoint (state-finite)."""
    return (
        with_chain(
            cte_scored(), cte_triples(), CTE_LINKED, _CTE_SYM_EDGES,
            recursive=True,
        )
        + """
, reach(src, node) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.node
),
comp AS (SELECT node AS entity, min(src) AS component_id FROM reach GROUP BY node),
seeds AS (SELECT DISTINCT component_id AS node FROM comp),
walk(node, par) AS (
  SELECT node, CAST(0 AS BIGINT) FROM seeds
  UNION
  SELECT s.b, 1 - w.par FROM walk w JOIN sym s ON s.a = w.node
),
conf AS (
  SELECT node, CAST(count(DISTINCT par) = 2 AS BIGINT) AS c
  FROM walk GROUP BY node
)
SELECT c.component_id,
       CAST(count(*) AS BIGINT) AS n_entities,
       CAST(sum(f.c) AS BIGINT) AS n_conflicted,
       (sum(f.c) = 0) AS is_bipartite
FROM comp c JOIN conf f ON f.node = c.entity
GROUP BY c.component_id"""
    )


def q_kg_snapshot_diff() -> str:
    """Mirror of pipeline.kg_snapshot_diff: even-doc-id half snapshot
    vs full graph, full-outer keyed on (subj, pred, obj), non-'same'
    rows with before/after support counts."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
, old AS (
  SELECT subj, pred, obj, CAST(count(*) AS BIGINT) AS n_before
  FROM linked WHERE CAST(doc_id AS BIGINT) % 2 = 0
  GROUP BY subj, pred, obj
),
new AS (
  SELECT subj, pred, obj, CAST(count(*) AS BIGINT) AS n_after
  FROM linked GROUP BY subj, pred, obj
),
j AS (
  SELECT coalesce(o.subj, n.subj) AS subj,
         coalesce(o.pred, n.pred) AS pred,
         coalesce(o.obj, n.obj) AS obj,
         o.n_before, n.n_after
  FROM old o FULL OUTER JOIN new n
    ON n.subj = o.subj AND n.pred = o.pred AND n.obj = o.obj
)
SELECT subj, pred, obj,
       CASE WHEN n_before IS NULL THEN 'added'
            WHEN n_after IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
       CAST(coalesce(n_after, 0) AS BIGINT) AS n_after
FROM j
WHERE n_before IS NULL OR n_after IS NULL OR n_before <> n_after"""
    )


def q_kg_summary() -> str:
    """Mirror of graph.kg_summary: deduped directed edge set, entity /
    pred / reciprocal counts, two integer-ratio columns."""
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED)
        + """
, ed AS (SELECT DISTINCT subj AS a, obj AS b FROM linked WHERE subj <> obj),
ne AS (
  SELECT CAST(count(*) AS BIGINT) AS n_entities
  FROM (SELECT a AS e FROM ed UNION SELECT b FROM ed)
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_directed FROM ed),
np AS (SELECT CAST(count(DISTINCT pred) AS BIGINT) AS n_preds FROM linked),
nr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
  FROM ed l JOIN ed r ON r.a = l.b AND r.b = l.a
)
SELECT ne.n_entities, nd.n_edges_directed, np.n_preds, nr.n_reciprocal,
       CAST(CASE WHEN nd.n_edges_directed > 0
            THEN (nr.n_reciprocal * 1000) // nd.n_edges_directed
            ELSE 0 END AS BIGINT)
         AS reciprocity_milli,
       CAST(CASE WHEN ne.n_entities > 1
            THEN (nd.n_edges_directed * 1000000)
                 // (ne.n_entities * (ne.n_entities - 1))
            ELSE 0 END AS BIGINT)
         AS density_micro
FROM ne CROSS JOIN nd CROSS JOIN np CROSS JOIN nr"""
    )


def q_kg_ktruss(k: int | None = None, unroll: int = 10) -> str:
    """Mirror of graph.ktruss: wedge-join triangle support per directed
    edge, peel below k-2, unrolled `unroll` times (idempotent at
    fixpoint; Spark raises past the same bound). Final support comes
    from the last level's support table (equal at fixpoint)."""
    K = k if k is not None else c.KTRUSS_K
    steps = []
    for i in range(1, unroll + 1):
        prev = "sym" if i == 1 else f"tlvl{i-1}"
        steps.append(
            f"t{i} AS MATERIALIZED ("
            f"SELECT l.a, l.b, CAST(count(*) AS BIGINT) AS support"
            f" FROM {prev} l JOIN {prev} n1 ON n1.a = l.a"
            f" JOIN {prev} n2 ON n2.a = l.b AND n2.b = n1.b"
            f" GROUP BY l.a, l.b),\n"
            f"tlvl{i} AS MATERIALIZED (SELECT e.a, e.b FROM {prev} e"
            f" JOIN t{i} t ON t.a = e.a AND t.b = e.b AND t.support >= {K - 2})"
        )
    return (
        with_chain(cte_scored(), cte_triples(), CTE_LINKED, _CTE_SYM_EDGES)
        + ",\n"
        + ",\n".join(steps)
        + f"""
SELECT e.a, e.b, t.support
FROM tlvl{unroll} e JOIN t{unroll} t ON t.a = e.a AND t.b = e.b
WHERE e.a < e.b"""
    )


def q_triples_media_evidence() -> str:
    """Multimodal KG grounding twin: nearest media chunk to each
    triple's head mention, via the congruence-class arithmetic
    (media chunks are exactly i ≡ (-7*doc_id) mod 5, i < n_chunks)."""
    return (
        with_chain(cte_scored(), cte_triples())
        + """
, mev_nch AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(ceil(len(string_split(text, ' ')) / 12.0) AS BIGINT) AS n_chunks
  FROM documents
),
mev_ev AS (
  SELECT t.doc_id, t.head_text AS subj, t.label AS pred,
         t.tail_text AS obj, t.prob,
         CAST(t.head_start // 12 AS BIGINT) AS head_chunk,
         n.n_chunks,
         ((-7 * CAST(t.doc_id AS BIGINT)) % 5 + 5) % 5 AS r
  FROM triples t JOIN mev_nch n USING (doc_id)
),
mev_cand AS (
  SELECT *,
         head_chunk - (((head_chunk - r) % 5 + 5) % 5) AS lo
  FROM mev_ev
),
mev_pick AS (
  SELECT *,
         CASE
           WHEN lo >= 0 AND lo + 5 < n_chunks THEN
             CASE WHEN head_chunk - lo <= lo + 5 - head_chunk
                  THEN lo ELSE lo + 5 END
           WHEN lo >= 0 THEN lo
           WHEN lo + 5 < n_chunks THEN lo + 5
         END AS best
  FROM mev_cand
)
SELECT doc_id, subj, pred, obj, prob, head_chunk,
       CAST(best AS BIGINT) AS media_chunk,
       CAST(abs(best - head_chunk) AS BIGINT) AS chunk_distance,
       CASE WHEN best IS NOT NULL THEN
         'media://' || CAST(doc_id AS VARCHAR) || '/' || CAST(best AS VARCHAR)
       END AS media_ref
FROM mev_pick"""
    )


def q_calibration() -> str:
    """Reliability-table twin for the NEURAL scorer: predictions come
    from the committed golden table (independently generated by
    tools/gen_golden.py's pure-python replay — DuckDB cannot run the
    transformer), gold and all calibration arithmetic (decile
    bucketing, position+label membership join, integer counts + one
    exact division) are genuinely cross-engine."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "goldens"
    arms = "\nUNION ALL\n".join(
        f"SELECT * FROM read_parquet('{root}/{sf}/triples_neural.parquet')"
        f" WHERE (SELECT s FROM sig) = {s}"
        for sf, s in _GOLDEN_SIGS.items()
    )
    return (
        with_chain(cte_scored())
        + f"""
, sig AS (SELECT sum(length(text)) AS s FROM documents),
cal_preds AS ({arms}),
cal_gold AS (
  SELECT DISTINCT doc_id, h_start AS head_start, h_end + 1 AS head_end,
         t_start AS tail_start, t_end + 1 AS tail_end, label
  FROM scored WHERE raw >= {c.GOLD_RAW_MIN}
),
cal_p AS (
  SELECT doc_id, head_start, head_end, tail_start, tail_end, label,
         least(CAST(floor(prob * 10) AS INT), 9) AS bucket
  FROM cal_preds
),
cal_c AS (
  SELECT p.bucket,
         CASE WHEN g.label IS NOT NULL THEN 1 ELSE 0 END AS ok
  FROM cal_p p
  LEFT JOIN cal_gold g USING (doc_id, head_start, head_end,
                              tail_start, tail_end, label)
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_preds,
       CAST(sum(ok) AS BIGINT) AS n_correct,
       CAST(sum(ok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS precision
FROM cal_c GROUP BY bucket"""
    )
