"""Fused per-document mention + pair plan (the 100-TB hot path).

Mention extraction, span hygiene, and pair generation are all
*per-document* computations, so they run as pure array expressions on
the document row: gazetteer lookup via a map literal, overlap
resolution as an intra-array dominance filter, pair expansion as two
chained explodes — ONE narrow map stage, ZERO shuffles (the k=1 decode
is a projection too, scoring.lexical_topk1_triples). The relational
form of the same semantics (windows + self-joins; 42 exchanges when
Spark planned it at sf0.1) is the DuckDB oracle (oracle.CTE_MENTIONS /
CTE_PAIRS), and tests assert row-for-row equality with it.

Reference semantics preserved:
- gazetteer mentions stand in for an upstream NER stage (the reference
  takes ``ner`` as given input, glirel/model.py:496)
- dedup spans on (start, end), P10 (glirel/modules/utils.py:6-36)
- long-entity filter P12 BEFORE overlap resolution
  (data/process_wiki_zsl.py:72, then :143-162)
- keep-longer overlap P11 with an earlier-start tie-break
  (process_wiki_zsl.py:143-162; see _hygiene_col)
- token indices end-INCLUSIVE (README.md:153)
- J1 pairs (``generate_entity_pairs_indices``, glirel/modules/base.py:
  59-109): relation pairs bidirectional with no self-pairs and the
  distance predicate |h_start - t_start| <= max_distance; coref pairs
  i < j with no distance predicate; rows are the union of the two
  masks, ordered row-major by (head m_id, tail m_id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from glirel_spark import config
from glirel_spark.functions.memo import once

_MENTION_T = "array<struct<m_id:int,start:int,end:int,type:string,text:string>>"


def _gaz_maps() -> tuple[Column, Column]:
    uni_items: list[Column] = []
    for tok, ty in sorted(config.ENTITY_UNIGRAMS.items()):
        uni_items += [F.lit(tok), F.lit(ty)]
    bi_items: list[Column] = []
    for (a, b), ty in sorted(config.ENTITY_BIGRAMS.items()):
        bi_items += [F.lit(f"{a} {b}"), F.lit(ty)]
    return F.create_map(*uni_items), F.create_map(*bi_items)


def _candidates_col(tokens: Column, max_chars: int = 50) -> Column:
    """Gazetteer candidates (pre-hygiene) for one row."""
    uni_map, bi_map = _gaz_maps()
    n = F.size(tokens)

    uni = F.filter(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.struct(
                i.cast("int").alias("start"),
                i.cast("int").alias("end"),
                uni_map[tokens[i]].alias("type"),
                tokens[i].alias("text"),
            ),
        ),
        lambda s: s["type"].isNotNull(),
    )
    bi_raw = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.struct(
                i.cast("int").alias("start"),
                (i + 1).cast("int").alias("end"),
                bi_map[F.concat_ws(" ", tokens[i], tokens[i + 1])].alias("type"),
                F.concat_ws(" ", tokens[i], tokens[i + 1]).alias("text"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,end:int,type:string,text:string>>"))
    bi = F.filter(bi_raw, lambda s: s["type"].isNotNull())
    cand = F.concat(uni, bi)
    # P12 long-entity filter
    return F.filter(cand, lambda s: F.length(s["text"]) <= max_chars)


def _hygiene_col(cand: Column) -> Column:
    """P11 dominance filter + (start,end) numbering over a MATERIALIZED
    candidates column.

    Span s is removed when an overlapping span t in the same doc
    dominates it: longer, or equal length with an earlier start. One
    pass of dominance (not iterative) equals the reference's greedy on
    this two-level (unigram vs bigram) hierarchy.

    INTENTIONAL DEVIATION from the reference tie-break: the reference
    removes a span only when strictly SHORTER in CHAR length, keeping
    both equal-length overlapping spans (e.g. 'sort merge'/'merge
    join'); this engine measures length in TOKENS and drops the
    later-starting of two equal-length overlapping spans. Rationale:
    a deterministic total order — results are identical under any
    partitioning and exactly replayable in the DuckDB oracle, whereas
    keep-both produces order-dependent pair lists downstream. The
    oracle (oracle.CTE_MENTIONS mkept) applies the same rule, so both
    stay row-identical.

    IMPORTANT performance contract: ``cand`` must be a plain column
    reference (materialized by a projection boundary), NOT a composite
    expression — Catalyst inlines duplicated sub-expressions, and this
    function references ``cand`` once per element inside ``exists``;
    with an inlined expression that turns O(k) hygiene into O(k x
    full-recompute) per row (measured 20x slowdown at sf0.1).
    """

    def dominated(s):
        def dom(t):
            overlap = ~((s["end"] < t["start"]) | (t["end"] < s["start"]))
            s_len = s["end"] - s["start"]
            t_len = t["end"] - t["start"]
            stronger = (t_len > s_len) | ((t_len == s_len) & (t["start"] < s["start"]))
            not_same = (s["start"] != t["start"]) | (s["end"] != t["end"])
            return overlap & stronger & not_same

        return F.exists(cand, dom)

    kept = F.filter(cand, lambda s: ~dominated(s))
    # number by (start, end) order  (dedup P10 is structurally a no-op
    # here: one candidate per (start,end) by construction)
    ordered = F.array_sort(
        F.transform(
            kept,
            lambda s: F.struct(
                s["start"].alias("start"),
                s["end"].alias("end"),
                s["type"].alias("type"),
                s["text"].alias("text"),
            ),
        )
    )
    return F.transform(
        ordered,
        lambda s, i: F.struct(
            i.cast("int").alias("m_id"),
            s["start"].alias("start"),
            s["end"].alias("end"),
            s["type"].alias("type"),
            s["text"].alias("text"),
        ),
    ).cast(_MENTION_T)


def with_mentions(docs_tokens: DataFrame, col_name: str = "_ments",
                  max_chars: int = 50) -> DataFrame:
    """docs_tokens + a materialized mention-array column.

    Both intermediate arrays go through ``materialized`` (see
    functions/barrier.py): the hygiene filter references the candidate
    array per element and the pair expansion references the mention
    array per element — without the barrier Catalyst inlines the alias
    and the plan degrades to O(k x full-recompute) per row. Both
    expressions are built once per gazetteer and ``max_chars``
    (functions/memo.py).
    """
    from glirel_spark.functions.barrier import materialized

    gazetteer = (tuple(sorted(config.ENTITY_UNIGRAMS.items())),
                 tuple(sorted(config.ENTITY_BIGRAMS.items())))
    cand = once(("fused.candidates", gazetteer, max_chars), lambda: materialized(
        _candidates_col(F.col("tokens"), max_chars)))
    ments = once("fused.hygiene", lambda: materialized(_hygiene_col(F.col("_cand"))))
    return docs_tokens.withColumn("_cand", cand).withColumn(col_name, ments).drop("_cand")


def mentions_from(docs_ments: DataFrame) -> DataFrame:
    """Exploded mentions table from a (possibly cached) with_mentions
    frame — lets callers share ONE gazetteer/hygiene pass across the
    mention, pair, and decode-enrichment subtrees (plan-keyed cache)."""
    return docs_ments.select(
        "doc_id", F.explode("_ments").alias("m")
    ).select("doc_id", "m.m_id", "m.start", "m.end", "m.type", "m.text")


def mentions_fused(docs_tokens: DataFrame) -> DataFrame:
    """Exploded mentions table (doc_id, m_id, start, end, type, text) —
    the oracle's ``mentions`` rows, one narrow stage."""
    return mentions_from(with_mentions(docs_tokens))


def pairs_from(
    docs_ments: DataFrame, max_distance: int | None = config.MAX_PAIR_DISTANCE
) -> DataFrame:
    """Exploded pairs table from a (possibly cached) with_mentions frame.

    Round-6 form: TWO chained ``explode``s + a scalar filter/projection
    instead of the nested transform/filter/flatten array expression.
    Same rows (J1 masks unchanged), but Generate and the pair predicate
    run inside whole-stage codegen, whereas higher-order array lambdas
    are evaluated interpreted per element — on the fused hot path that
    interpreted k^2-per-doc struct build was the single largest CPU
    term at sf0.1 (guide §2 step 2: per-task work)."""
    h, t = F.col("h"), F.col("t")
    dist = F.abs(h["start"] - t["start"])
    is_rel = F.lit(True) if max_distance is None else dist <= F.lit(max_distance)
    is_coref = h["m_id"] < t["m_id"]
    return (
        docs_ments.select("doc_id", "_ments", F.explode("_ments").alias("h"))
        .select("doc_id", "h", F.explode("_ments").alias("t"))
        .filter((h["m_id"] != t["m_id"]) & (is_rel | is_coref))
        .select(
            "doc_id",
            h["m_id"].alias("head_m_id"), t["m_id"].alias("tail_m_id"),
            h["start"].alias("h_start"), h["end"].alias("h_end"),
            t["start"].alias("t_start"), t["end"].alias("t_end"),
            h["type"].alias("h_type"), t["type"].alias("t_type"),
            h["text"].alias("h_text"), t["text"].alias("t_text"),
            dist.cast("int").alias("dist"),
            is_rel.alias("is_rel"),
            is_coref.alias("is_coref"),
        )
    )


def pairs_fused(
    docs_tokens: DataFrame, max_distance: int | None = config.MAX_PAIR_DISTANCE
) -> DataFrame:
    """Exploded pairs table — the oracle's ``pairs`` rows; single
    narrow stage, zero shuffles.

    The mention array is materialized by with_mentions before the
    pair explode references it k times (see _hygiene_col)."""
    return pairs_from(with_mentions(docs_tokens), max_distance)
