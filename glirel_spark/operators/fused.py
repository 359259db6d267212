"""Fused per-document mention + pair plan (the 100-TB hot path).

Mention extraction, span hygiene, and pair generation are all
*per-document* computations, yet the general relational operators
(mentions.py / pairs.py) express them as windows + self-joins — at
sf0.1 that plan has 42 exchanges and recomputes the mention subtree 3x.

This module computes the identical result as pure array expressions on
the document row: gazetteer lookup via a map literal, overlap
resolution as an intra-array dominance filter, pair expansion as two
chained explodes — ONE narrow map stage, ZERO shuffles (the k=1 decode
is a projection too, scoring.lexical_topk1_triples). Tests assert row-for-row equality with the relational
operators (which remain the general path when mentions arrive from an
external NER table rather than a per-row rule).

Semantics preserved (same citations as mentions.py/pairs.py):
dedup P10, keep-longer overlap P11 w/ earlier-start tie-break, long-
entity filter P12, end-inclusive spans, J1 bidirectional pairs with
distance predicate + coref i<j mask, row-major ordering by m_id.
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


def mentions_col(tokens: Column, max_chars: int = 50) -> Column:
    """Single-expression form (tests/small rows only — quadratic
    re-evaluation without projection boundaries; use with_mentions)."""
    return _hygiene_col(_candidates_col(tokens, max_chars))


def mentions_from(docs_ments: DataFrame) -> DataFrame:
    """Exploded mentions table from a (possibly cached) with_mentions
    frame — lets callers share ONE gazetteer/hygiene pass across the
    mention, pair, and decode-enrichment subtrees (plan-keyed cache)."""
    return docs_ments.select(
        "doc_id", F.explode("_ments").alias("m")
    ).select("doc_id", "m.m_id", "m.start", "m.end", "m.type", "m.text")


def mentions_fused(docs_tokens: DataFrame) -> DataFrame:
    """Exploded mentions table — same schema/rows as
    mentions.extract_mentions, one narrow stage."""
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
    """Exploded pairs table — same rows as pairs.generate_pairs over
    mentions.extract_mentions; single narrow stage, zero shuffles.

    The mention array is materialized by with_mentions before the
    pair explode references it k times (see _hygiene_col)."""
    return pairs_from(with_mentions(docs_tokens), max_distance)
