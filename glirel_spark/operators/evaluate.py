"""Evaluation replay: RelEvaluator semantics (glirel/modules/evaluator.py)
+ threshold grid search (glirel/model.py:625-694).

- J5 annotated-pairs-only filter (evaluator.py:80-86): a predicted pair
  counts only if (head, tail, doc) is annotated in gold under ANY label
  (position-only semi-join) — applied for few_rel/wiki_zsl/redocred.
- J4 TP matching (evaluator.py:97): preds ∩ gold on (label, head, tail,
  doc) = inner join, counted per label.
- A3 per-label tp/pred/true counts; A1 micro (global integer sums);
  A2 macro (per-label P/R/F then unweighted mean, `_prf_divide`
  zero-division -> 0).
- W5 threshold search: score ONCE, decode per threshold (the reference
  re-decodes a cached forward pass, model.py:638). For the lexical
  scorer at k=1 the per-pair argmax and the gold set are row-local, so
  every threshold's counts come out of one pass over the pair relation
  (``threshold_search_lexical``).

The gold standard is deterministic: every (pair, label) whose lexical
raw score is >= ``config.GOLD_RAW_MIN``. The fused forms here are
checked against the DuckDB oracle (oracle.q_eval_counts /
q_threshold_search, tests/test_fused_decode.py).

Float determinism for the oracle: micro metrics derive from integer
sums; macro means are computed by a SORTED left-fold over per-label
values (F.aggregate over array_sort), so Spark and DuckDB add in the
same order -> bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from glirel_spark import config

_POS = ["doc_id", "h_start", "h_end", "t_start", "t_end"]


def annotated_pairs_filter(preds: DataFrame, gold: DataFrame) -> DataFrame:
    """J5: keep pred iff its (doc, head, tail) positions appear in gold
    under any label (evaluator.py:80-86)."""
    gold_pos = gold.select(*_POS).distinct()
    return preds.join(gold_pos, _POS, "left_semi")


def per_label_counts(preds: DataFrame, gold: DataFrame) -> DataFrame:
    """A3: per-label tp/pred/true over the union of label vocabularies."""
    p = preds.select(*_POS, "label").distinct()
    g = gold.select(*_POS, "label").distinct()
    tp = p.join(g, _POS + ["label"], "left_semi").groupBy("label").agg(
        F.count("*").alias("tp")
    )
    pred_n = p.groupBy("label").agg(F.count("*").alias("pred_n"))
    true_n = g.groupBy("label").agg(F.count("*").alias("true_n"))
    labels = (
        p.select("label").union(g.select("label")).distinct()
    )
    return (
        labels.join(tp, "label", "left")
        .join(pred_n, "label", "left")
        .join(true_n, "label", "left")
        .select(
            "label",
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("pred_n", F.lit(0)).cast("long").alias("pred_n"),
            F.coalesce("true_n", F.lit(0)).cast("long").alias("true_n"),
        )
    )


def _safe_div(num, den):
    return F.when(den == 0, F.lit(0.0)).otherwise(num.cast("double") / den.cast("double"))


def micro_macro(counts: DataFrame) -> DataFrame:
    """A1/A2 from per-label counts -> single row of 6 metrics.

    Macro mean uses a sorted fold for cross-engine bit-stability.
    """
    per = counts.select(
        "label",
        _safe_div(F.col("tp"), F.col("pred_n")).alias("p"),
        _safe_div(F.col("tp"), F.col("true_n")).alias("r"),
    ).select(
        "label", "p", "r",
        F.when(F.col("p") + F.col("r") == 0, F.lit(0.0))
        .otherwise(2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r")))
        .alias("f"),
    )
    folded = per.agg(
        F.array_sort(F.collect_list(F.struct("label", "p", "r", "f"))).alias("rows")
    )

    def fold(field):
        return F.aggregate(
            F.col("rows"), F.lit(0.0), lambda acc, x: acc + x[field]
        ) / F.size("rows")

    macro = folded.select(
        fold("p").alias("macro_precision"),
        fold("r").alias("macro_recall"),
        fold("f").alias("macro_f1"),
    )
    micro = counts.agg(
        F.sum("tp").alias("tp"), F.sum("pred_n").alias("pred_n"),
        F.sum("true_n").alias("true_n"),
    ).select(
        _safe_div(F.col("tp"), F.col("pred_n")).alias("micro_precision"),
        _safe_div(F.col("tp"), F.col("true_n")).alias("micro_recall"),
        "tp", "pred_n", "true_n",
    ).select(
        "micro_precision", "micro_recall",
        F.when(F.col("micro_precision") + F.col("micro_recall") == 0, F.lit(0.0))
        .otherwise(
            2 * F.col("micro_precision") * F.col("micro_recall")
            / (F.col("micro_precision") + F.col("micro_recall"))
        ).alias("micro_f1"),
    )
    return micro.crossJoin(macro)


def evaluate(preds: DataFrame, gold: DataFrame, annotated_only: bool = True) -> DataFrame:
    p = preds
    if annotated_only:
        p = annotated_pairs_filter(p, gold)
    return micro_macro(per_label_counts(p, gold))


def _grid_nb(prob: "F.Column", gs: list[float]) -> "F.Column":
    """How many grid thresholds this prob exceeds (grid sorted asc)."""
    return F.aggregate(
        F.array(*[F.lit(t) for t in gs]),
        F.lit(0),
        lambda a, t: a + F.when(prob > t, 1).otherwise(0),
    )


def _gold_labels(labs: list[str], raws: list["F.Column"], raw_min: int) -> "F.Column":
    """The pair's gold label set: every label whose lexical raw score is
    >= ``raw_min``, in ``labs`` order."""
    return F.filter(
        F.array(*[
            F.when(r >= F.lit(raw_min), F.lit(lab)).otherwise(F.lit(None))
            for lab, r in zip(labs, raws)
        ]),
        lambda x: x.isNotNull(),
    )


def gold_triples_lexical(
    rel_pairs: DataFrame,
    labels: dict[str, dict[str, list[str]]] | None = None,
    raw_min: int = config.GOLD_RAW_MIN,
) -> DataFrame:
    """The deterministic gold relation (every (pair, label) whose
    lexical raw score is >= ``raw_min``), derived row-locally from the
    pair relation: one narrow explode, no pairs × labels expansion, no
    distinct (one row per (pair, label) by construction)."""
    from glirel_spark.functions.barrier import materialized
    from glirel_spark.operators.scoring import lexical_base, lexical_label_raws

    labs = sorted(labels or config.RELATION_LABELS)
    raws = lexical_label_raws(labs, base=F.col("_lexbase"))
    gold_labs = _gold_labels(labs, raws, raw_min)
    return rel_pairs.withColumn(
        "_lexbase", materialized(lexical_base())
    ).select(*_POS, F.explode(gold_labs).alias("label"))


def eval_counts_lexical(
    rel_pairs: DataFrame,
    labels: dict[str, dict[str, list[str]]] | None = None,
    threshold: float = config.THRESHOLD,
    raw_min: int = config.GOLD_RAW_MIN,
) -> DataFrame:
    """A3 per-label counts fused to the pair row (round-6), row-exact to
    ``per_label_counts(annotated_pairs_filter(preds, gold), gold)`` over
    the lexical scorer's k=1 triples (oracle.q_eval_counts): the
    decoded prediction (argmax +
    threshold + P9 constraint), the J5 annotated filter (gold set
    non-empty) and the TP test (argmax label ∈ gold set) are all
    row-local, so the counts need ONE narrow pass + one
    map-side-combined aggregation — no scored relation, no semi-joins
    (same derivation discipline as ``threshold_search_lexical``).
    """
    from glirel_spark.functions.barrier import materialized
    from glirel_spark.operators.scoring import (
        label_argmax,
        lexical_base,
        lexical_constraint_ok,
        lexical_label_raws,
    )

    label_dict = labels or config.RELATION_LABELS
    labs = sorted(label_dict)
    raws = lexical_label_raws(labs, base=F.col("_lexbase"))
    best_label, best_raw = label_argmax(labs, raws)
    gold_labs = _gold_labels(labs, raws, raw_min)
    prob = best_raw.cast("int").cast("double") / F.lit(float(config.SCORE_MOD - 1))
    pp = rel_pairs.withColumn("_lexbase", materialized(lexical_base())).select(
        best_label.alias("label"),
        (prob > F.lit(threshold)).alias("_pred"),
        gold_labs.alias("_glabs"),
        "h_type", "t_type",
    )
    is_pred = (
        F.col("_pred")
        & (F.size("_glabs") > 0)  # J5 annotated-pairs filter
        & lexical_constraint_ok(label_dict, F.col("label"))  # P9
    )
    pred_item = F.when(
        is_pred,
        F.array(F.struct(
            F.lit(0).alias("_k"), F.col("label").alias("_lab"),
            F.array_contains("_glabs", F.col("label")).cast("long").alias("_hit"),
        )),
    ).otherwise(F.array())
    gold_items = F.transform(
        F.col("_glabs"),
        lambda lab: F.struct(
            F.lit(1).alias("_k"), lab.alias("_lab"), F.lit(0).cast("long").alias("_hit")
        ),
    )
    k0 = F.col("_i._k") == 0
    return (
        pp.select(F.explode(F.concat(pred_item, gold_items)).alias("_i"))
        .groupBy(F.col("_i._lab").alias("label"))
        .agg(
            F.sum(F.when(k0, F.col("_i._hit")).otherwise(F.lit(0))).cast("long").alias("tp"),
            F.sum(F.when(k0, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("pred_n"),
            F.sum(F.when(~k0, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("true_n"),
        )
    )


def threshold_search_lexical(
    rel_pairs: DataFrame,
    labels: dict[str, dict[str, list[str]]] | None = None,
    grid: list[float] = config.THRESHOLD_GRID,
    raw_min: int = config.GOLD_RAW_MIN,
) -> DataFrame:
    """W5 grid search fused to the pair row (round-6 optimization).

    The lexical scorer's label dimension is a literal, so the per-pair
    argmax (decode k=1), the gold label set (raw >= raw_min), the
    annotated-pairs filter (gold set non-empty), and the gold-hit flag
    (argmax label ∈ gold set) are ALL row-local expressions on the pair
    relation — the 5.4M-row scored cache, the per-pair argmax exchange,
    and the best⋈gold join of the scored-relation form disappear
    (guide §2.4). Per-threshold counts are a suffix sum over the grid
    buckets; the metric arithmetic is ``_grid_metrics``. Hash-equal to
    oracle.q_threshold_search, which decodes the scored relation at
    every threshold (tests/test_fused_decode.py).
    """
    from glirel_spark.functions.barrier import materialized
    from glirel_spark.operators.scoring import (
        label_argmax,
        lexical_base,
        lexical_label_raws,
    )

    labs = sorted(labels or config.RELATION_LABELS)
    gs = sorted(set(grid))
    # base hoisted behind the barrier, as in lexical_topk1_triples: the
    # raws are referenced three times each (greatest, the argmax
    # position, gold array) and inlining the base per reference bloats
    # the generated consume method (see scoring.py).
    raws = lexical_label_raws(labs, base=F.col("_lexbase"))
    best_label, best_raw = label_argmax(labs, raws)
    gold_labs = _gold_labels(labs, raws, raw_min)
    pp = rel_pairs.withColumn("_lexbase", materialized(lexical_base())).select(
        best_label.alias("label"),
        best_raw.cast("int").alias("_braw"),
        gold_labs.alias("_glabs"),
    )
    prob = F.col("_braw").cast("double") / F.lit(float(config.SCORE_MOD - 1))
    # ONE pass, ONE exchange: the per-pair best row (kind 0: argmax
    # label, grid bucket, gold-hit flag — only for gold-annotated
    # pairs, the J5 filter) and the flattened gold labels (kind 1, for
    # true_n and the label vocabulary) explode out of the same
    # projection into one map-side-combined aggregation; every
    # downstream consumer reads that tiny grouped relation through
    # ReusedExchange, so the pair relation is scanned exactly once
    # (two separate subtrees would each recompute the narrow pass —
    # measured 2x the query time at sf0.1).
    best_item = F.when(
        F.size("_glabs") > 0,
        F.array(F.struct(
            F.lit(0).alias("_k"),
            F.col("label").alias("_lab"),
            _grid_nb(prob, gs).alias("_nb"),
            F.array_contains("_glabs", F.col("label")).cast("int").alias("_hit"),
        )),
    ).otherwise(F.array())
    gold_items = F.transform(
        F.col("_glabs"),
        lambda lab: F.struct(
            F.lit(1).alias("_k"), lab.alias("_lab"),
            F.lit(0).alias("_nb"), F.lit(0).alias("_hit"),
        ),
    )
    grouped = (
        pp.select(F.explode(F.concat(best_item, gold_items)).alias("_i"))
        .select("_i._k", F.col("_i._lab").alias("label"), "_i._nb", "_i._hit")
        .groupBy("_k", "label", "_nb")
        .agg(F.count("*").alias("_n"), F.sum("_hit").alias("_tp"))
    )
    # grouped MUST have exactly one consumer: a filter on its group keys
    # would be pushed below the aggregation and below the exchange, so
    # three filtered readers become three full scans of the pair
    # relation (no ReusedExchange — measured 3x). Instead the counts
    # relation derives from ONE expansion of the tiny grouped frame:
    # kind-0 rows contribute (tp, pred_n) to grid buckets 1.._nb (the
    # suffix sum), kind-1 rows contribute true_n to EVERY bucket — which
    # also supplies the (grid x gold-label) base coverage the old
    # base-union-distinct produced.
    span = F.when(
        F.col("_k") == 0,
        F.when(F.col("_nb") > 0, F.sequence(F.lit(1), F.col("_nb")))
        .otherwise(F.array().cast("array<int>")),
    ).otherwise(F.sequence(F.lit(1), F.lit(len(gs))))
    th_map = rel_pairs.sparkSession.createDataFrame(
        [(i + 1, t) for i, t in enumerate(gs)], "_ti int, threshold double"
    )
    k0 = F.col("_k") == 0
    counts = (
        grouped.select("_k", "label", "_n", "_tp", F.explode(span).alias("_ti"))
        .groupBy("_ti", "label")
        .agg(
            F.sum(F.when(k0, F.col("_tp")).otherwise(F.lit(0))).alias("tp"),
            F.sum(F.when(k0, F.col("_n")).otherwise(F.lit(0))).alias("pred_n"),
            F.sum(F.when(~k0, F.col("_n")).otherwise(F.lit(0))).alias("true_n"),
        )
        .join(F.broadcast(th_map), "_ti")
        .select(
            "threshold", "label",
            F.col("tp").cast("long").alias("tp"),
            F.col("pred_n").cast("long").alias("pred_n"),
            F.col("true_n").cast("long").alias("true_n"),
        )
    )
    return _grid_metrics(counts)


def _grid_metrics(counts: DataFrame) -> DataFrame:
    """Per-threshold micro/macro metrics from per-(threshold, label)
    counts (a sorted fold for cross-engine bit-stability)."""
    per = counts.select(
        "threshold", "label",
        _safe_div(F.col("tp"), F.col("pred_n")).alias("p"),
        _safe_div(F.col("tp"), F.col("true_n")).alias("r"),
        F.col("tp"), F.col("pred_n"), F.col("true_n"),
    ).withColumn(
        "f",
        F.when(F.col("p") + F.col("r") == 0, F.lit(0.0))
        .otherwise(2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r"))),
    )
    folded = per.groupBy("threshold").agg(
        F.array_sort(F.collect_list(F.struct("label", "p", "r", "f"))).alias("rows"),
        F.sum("tp").alias("tp"), F.sum("pred_n").alias("pred_n"),
        F.sum("true_n").alias("true_n"),
    )

    def fold(field):
        return F.aggregate(F.col("rows"), F.lit(0.0), lambda a, x: a + x[field]) / F.size("rows")

    micro_p = _safe_div(F.col("tp"), F.col("pred_n"))
    micro_r = _safe_div(F.col("tp"), F.col("true_n"))
    return folded.select(
        "threshold",
        micro_p.alias("micro_precision"),
        micro_r.alias("micro_recall"),
        F.when(micro_p + micro_r == 0, F.lit(0.0))
        .otherwise(2 * micro_p * micro_r / (micro_p + micro_r)).alias("micro_f1"),
        fold("p").alias("macro_precision"),
        fold("r").alias("macro_recall"),
        fold("f").alias("macro_f1"),
    )


def best_threshold(search: DataFrame, metric: str = "macro_f1") -> DataFrame:
    """argmax over the grid (model.py:681-694); tie -> lowest threshold."""
    return search.orderBy(F.desc(metric), F.asc("threshold")).limit(1)


def calibration_table(triples: DataFrame, gold: DataFrame,
                      n_buckets: int = 10) -> DataFrame:
    """Reliability table: bucket the decoded predictions by probability
    decile and count how many are gold-correct — the calibration
    artifact that tells a deployment whether the scorer's probabilities
    mean what they say (and where to put the production threshold).

    ``triples``: decoded output (exclusive-end coordinates, one row per
    (pair, label)); ``gold``: same coordinate frame. Output one row per
    non-empty bucket: (bucket, n_preds, n_correct, precision) —
    integer counts plus ONE exactly-rounded division, so the oracle is
    bit-identical.

    Plan shape: a left-semi join on the (position, label) key followed
    by a tiny groupBy on the bucket id; both sides arrive already
    partitioned by doc_id-prefixed keys from decode, and the bucket agg
    is map-side combinable into <= n_buckets rows.
    """
    keys = ["doc_id", "head_start", "head_end", "tail_start", "tail_end",
            "label"]
    b = F.least(
        F.floor(F.col("prob") * n_buckets).cast("int"), F.lit(n_buckets - 1)
    )
    p = triples.select(*keys, b.alias("bucket"))
    correct = p.join(gold.select(*keys).distinct(), keys, "left_semi")
    n_all = p.groupBy("bucket").agg(F.count("*").cast("long").alias("n_preds"))
    n_ok = correct.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_correct")
    )
    return (
        n_all.join(n_ok, "bucket", "left")
        .select(
            "bucket",
            "n_preds",
            F.coalesce("n_correct", F.lit(0)).cast("long").alias("n_correct"),
            (F.coalesce("n_correct", F.lit(0)).cast("double")
             / F.col("n_preds").cast("double")).alias("precision"),
        )
    )
