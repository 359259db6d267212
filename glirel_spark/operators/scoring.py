"""Pair × label scoring — relational plane.

Two scorers share the decode pipeline (threshold/top-k/constraints):

- ``lexical_score``: a deterministic, *SQL-expressible* scorer (integer
  arithmetic + one exactly-rounded IEEE division). It is the
  oracle-checked twin: DuckDB computes bit-identical probabilities, so
  the entire decode path is value-hash verified end-to-end.
- the tensor-plane scorer (glirel_spark/model/scorer.py): the GLiREL
  architecture (label-prompt × span-pair reps, dot scorer — reference
  T1-T13) as a vectorized mapInPandas stage.

Both emit the same (pair, label, score, prob) shape; decode does not
care which produced it. Coref label semantics: prob 1.0 iff the two
mention texts match (the SELF coreference convention of
glirel/modules/utils.py:120-127 reduced to a deterministic rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from glirel_spark import config
from glirel_spark.functions.memo import once


def label_constraints(
    labels: dict[str, dict[str, list[str]]],
) -> list[tuple[str, list[str] | None, list[str] | None]]:
    """(label, allowed_head, allowed_tail) in ascending label order — the
    P9 constraint table every decode path reads. None = unconstrained
    (glirel/modules/utils.py:76-79: `.get(..., rel_types)` default); an
    empty list allows no type, so it drops every row of that label."""
    out = []
    for lab in sorted(labels):
        spec = labels.get(lab) or {}
        out.append((lab, spec.get("allowed_head"), spec.get("allowed_tail")))
    return out


def labels_df_from_dict(
    spark: SparkSession, labels: dict[str, dict[str, list[str]]]
) -> DataFrame:
    """Broadcastable label dimension with entity-type constraints
    (NULL allowed_head/allowed_tail = unconstrained)."""
    return spark.createDataFrame(
        label_constraints(labels),
        "label string, allowed_head array<string>, allowed_tail array<string>",
    )


def labels_df(spark: SparkSession) -> DataFrame:
    """The configured label dimension."""
    return labels_df_from_dict(spark, config.RELATION_LABELS)


def lexical_raw(h_text: Column, t_text: Column, label: Column, dist: Column) -> Column:
    """Integer score in [0, SCORE_MOD): the SQL-expressible test scorer."""
    c = config
    return (
        F.lit(c.SCORE_W_HLEN) * F.length(h_text)
        + F.lit(c.SCORE_W_TLEN) * F.length(t_text)
        + F.lit(c.SCORE_W_LLEN) * F.length(label)
        + F.lit(c.SCORE_W_DIST) * dist
        + F.lit(c.SCORE_W_HCH) * F.ascii(h_text)
        + F.lit(c.SCORE_W_TCH) * F.ascii(t_text)
        + F.lit(c.SCORE_W_LCH) * F.ascii(label)
    ) % F.lit(c.SCORE_MOD)


def score_pairs_lexical(rel_pairs: DataFrame, labels: DataFrame) -> DataFrame:
    """pairs × labels -> scored candidates.

    The label table is tiny -> broadcast nested-loop-free cross join
    (Catalyst turns crossJoin(broadcast(...)) into BroadcastNestedLoopJoin
    with no shuffle of the big side).
    """
    scored = rel_pairs.crossJoin(F.broadcast(labels))
    raw = F.when(
        F.col("label") == config.COREF_LABEL,
        F.when(F.col("h_text") == F.col("t_text"), F.lit(config.SCORE_MOD - 1)).otherwise(F.lit(0)),
    ).otherwise(
        lexical_raw(F.col("h_text"), F.col("t_text"), F.col("label"), F.col("dist"))
    )
    return scored.withColumn("raw", raw.cast("int")).withColumn(
        "prob", F.col("raw").cast("double") / F.lit(float(config.SCORE_MOD - 1))
    )


# --- fused k=1 decode (round-6 optimization) --------------------------------
#
# The label dimension is a COMPILE-TIME constant of the lexical scorer
# (its per-label score contribution is W_LLEN*len(label) +
# W_LCH*ascii(label) — a literal), so for top_k=1 the whole
# crossJoin(labels) -> threshold -> per-pair argmax aggregation chain
# collapses into a per-ROW argmax over |labels| integer expressions:
# zero shuffles, no |labels|x row expansion, no wide payload struct
# through an exchange (guide §2.4 "remove shuffles outright" + §2.3
# "aggregate before you shuffle" taken to its limit). Row-identical to
# the relational form (tests/test_fused_decode.py): threshold-then-
# argmax == argmax-then-threshold at k=1, and the first maximal raw in
# label-ascending order reproduces the min(struct(-prob, label))
# tie-break exactly.


def lexical_base() -> "F.Column":
    """The label-independent part of ``lexical_raw`` over a pair row."""
    c = config
    return (
        F.lit(c.SCORE_W_HLEN) * F.length("h_text")
        + F.lit(c.SCORE_W_TLEN) * F.length("t_text")
        + F.lit(c.SCORE_W_DIST) * F.col("dist")
        + F.lit(c.SCORE_W_HCH) * F.ascii("h_text")
        + F.lit(c.SCORE_W_TCH) * F.ascii("t_text")
    )


def lexical_label_raws(labels: list[str], base: "F.Column | None" = None) -> "list[F.Column]":
    """Per-label raw-score column over a pair row (h_text, t_text, dist).

    Bit-identical to ``lexical_raw`` with the label terms constant-folded
    in python: integer addition is associative, and F.length/F.ascii of a
    literal ASCII label are len()/ord() of its first char. Pass ``base``
    (e.g. a materialized ``lexical_base()`` column) to keep every raw a
    3-node expression — callers that reference the raws several times
    otherwise inline the base per reference.
    """
    c = config
    if base is None:
        base = lexical_base()
    out = []
    for lab in labels:
        if lab == c.COREF_LABEL:
            out.append(
                F.when(
                    F.col("h_text") == F.col("t_text"), F.lit(c.SCORE_MOD - 1)
                ).otherwise(F.lit(0))
            )
        else:
            k = c.SCORE_W_LLEN * len(lab) + c.SCORE_W_LCH * ord(lab[0])
            out.append((base + F.lit(k)) % F.lit(c.SCORE_MOD))
    return out


def lexical_topk1_triples(
    rel_pairs: DataFrame,
    labels: dict[str, dict[str, list[str]]] | None = None,
    threshold: float = config.THRESHOLD,
    formatted: bool = True,
) -> DataFrame:
    """Fused k=1 lexical decode: one narrow projection from pairs to
    formatted triples (see module comment above). Row-identical to
    ``decode.decode(score_pairs_lexical(rel_pairs, labels_df), threshold,
    top_k=1)`` — the general relational path remains for top_k > 1 and
    for scorers whose label scores are not row-local."""
    from glirel_spark.operators import decode as decode_ops

    from glirel_spark.functions.barrier import materialized

    if labels is None:
        labels = config.RELATION_LABELS
    labs = sorted(labels)
    if not labs:
        raise ValueError("lexical_topk1_triples needs a non-empty label set")
    # Two per-row barriers keep the stage's generated consume method
    # under HotSpot's 8,000-byte JIT limit (-XX:HugeMethodLimit; see
    # functions/barrier.py). Over it the method is never compiled to
    # machine code and the stage runs in the bytecode interpreter for the
    # life of the JVM. (1) The label-independent base is computed once:
    # otherwise each of the |labels| raws inlines the 15-node base at
    # every reference. (2) The argmax label is computed once: the
    # constraint filter reads ``label``, and Catalyst pushes a filter
    # below the projection that defines its columns, so each
    # ``label == lab`` test of the chain would carry its own copy of the
    # argmax.
    # tests/test_plan_shape.py guards the limit.
    base = rel_pairs.withColumn(
        "_lexbase", once("scoring.lexical_base", lambda: materialized(lexical_base()))
    )

    def fenced_argmax():
        label, raw = label_argmax(labs, lexical_label_raws(labs, base=F.col("_lexbase")))
        return materialized(label), raw

    best_label, best_raw = once(("scoring.label_argmax", tuple(labs)), fenced_argmax)
    out = base.select(
        "doc_id", "h_start", "h_end", "t_start", "t_end",
        "h_type", "t_type", "h_text", "t_text",
        best_label.alias("label"),
        best_raw.cast("int").alias("raw"),
    ).withColumn(
        "prob", F.col("raw").cast("double") / F.lit(float(config.SCORE_MOD - 1))
    ).filter(F.col("prob") > F.lit(threshold))
    table = tuple(
        (lab, None if ah is None else tuple(ah), None if at is None else tuple(at))
        for lab, ah, at in label_constraints(labels)
    )
    out = out.filter(once(("scoring.constraint_ok", table),
                          lambda: lexical_constraint_ok(labels, F.col("label"))))
    if not formatted:
        # the pre-format decoded relation (inclusive ends, h/t types
        # kept) — what type-signature style consumers aggregate over
        return out
    return decode_ops.format_output(out)


def label_argmax(labs: list[str], raws: list[Column]) -> tuple[Column, Column]:
    """(best label, best raw) over the per-label ``raws`` of a pair row,
    ``labs`` ascending. ``array_position`` returns the FIRST maximal raw,
    so ascending label order gives the (prob desc, label asc)
    tie-break."""
    best_raw = F.greatest(*raws) if len(raws) > 1 else raws[0]
    pos = F.array_position(F.array(*raws), best_raw).cast("int")
    best_label = F.element_at(F.array(*[F.lit(lab) for lab in labs]), pos)
    return best_label, best_raw


def lexical_constraint_ok(
    labels: dict[str, dict[str, list[str]]], label_col: "F.Column"
) -> "F.Column":
    """P9 constraint predicate as a label when-chain of ``isin`` tests —
    same truth table as the NULL-semantics array_contains form over the
    broadcast label dimension (types are non-null by construction)."""
    ok = None
    for lab, ah, at in label_constraints(labels):
        head_ok = F.col("h_type").isin(*ah) if ah is not None else F.lit(True)
        tail_ok = F.col("t_type").isin(*at) if at is not None else F.lit(True)
        cond = head_ok & tail_ok
        ok = (
            F.when(label_col == lab, cond)
            if ok is None
            else ok.when(label_col == lab, cond)
        )
    return ok if ok is not None else F.lit(True)
