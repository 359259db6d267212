"""Fused-plan equivalence: the per-row lexical argmax decode, the fused
threshold search and the neural scorer's in-UDF k=1 decode must be
ROW-IDENTICAL to the relational forms they replace (crossJoin or scored
relation + threshold + per-pair argmax aggregation, and the
scored-relation grid search)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glirel_spark import config
from glirel_spark.operators import decode as decode_ops
from glirel_spark.operators import evaluate
from glirel_spark.operators import scoring

SF = "/root/testdata/sf0.001"


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def rel(spark):
    from glirel_spark.plans import pipeline

    return pipeline.pairs(spark, SF).filter("is_rel")


def test_lexical_topk1_equals_relational_decode(spark, rel):
    ldf = scoring.labels_df(spark)
    general = decode_ops.decode(
        scoring.score_pairs_lexical(rel, ldf), config.THRESHOLD, 1
    )
    fused = scoring.lexical_topk1_triples(rel, threshold=config.THRESHOLD)
    assert fused.columns == general.columns
    assert _rows(fused) == _rows(general)


def test_lexical_topk1_custom_labels_with_coref(spark, rel):
    """Custom dict incl. the SELF coref special and partial constraints —
    the api.extract_triples generality the fused path must keep."""
    labels = {
        "used by": {"allowed_head": ["TOOL"], "allowed_tail": ["ACTOR"]},
        "feeds": {"allowed_tail": ["EVENT", "OBJECT"]},
        config.COREF_LABEL: {},
    }
    from glirel_spark.plans.api import labels_df_from_dict

    ldf = labels_df_from_dict(spark, labels)
    general = decode_ops.decode(
        scoring.score_pairs_lexical(rel, ldf), 0.3, 1
    )
    fused = scoring.lexical_topk1_triples(rel, labels, threshold=0.3)
    assert _rows(fused) == _rows(general)


def test_lexical_label_raws_match_lexical_raw(spark, rel):
    labs = sorted(config.RELATION_LABELS)
    fused_cols = scoring.lexical_label_raws(labs)
    sample = rel.limit(200).select(
        "h_text", "t_text", "dist",
        *[c.alias(f"_f{i}") for i, c in enumerate(fused_cols)],
        *[
            scoring.lexical_raw(
                F.col("h_text"), F.col("t_text"), F.lit(lab), F.col("dist")
            ).alias(f"_g{i}")
            for i, lab in enumerate(labs)
        ],
    )
    for r in sample.collect():
        for i in range(len(labs)):
            assert r[f"_f{i}"] == r[f"_g{i}"]


def test_pred_type_signature_decoded_input_equals_scored(spark, rel):
    from glirel_spark.operators import graph as graph_ops

    s = scoring.score_pairs_lexical(rel, scoring.labels_df(spark))
    via_scored = graph_ops.pred_type_signature(s)
    via_decoded = graph_ops.pred_type_signature(
        decoded=scoring.lexical_topk1_triples(rel, formatted=False)
    )
    assert via_decoded.columns == via_scored.columns
    assert _rows(via_decoded) == _rows(via_scored)


def test_threshold_search_lexical_equals_scored_form(spark, rel):
    ldf = scoring.labels_df(spark)
    scored = scoring.score_pairs_lexical(rel, ldf).cache()
    general = evaluate.threshold_search(scored, evaluate.gold_triples(scored))
    fused = evaluate.threshold_search_lexical(rel)
    assert fused.columns == general.columns
    assert _rows(fused) == _rows(general)
    scored.unpersist()


def test_eval_counts_lexical_equals_scored_chain(spark, rel):
    from glirel_spark.plans import pipeline

    SFD = SF
    s = scoring.score_pairs_lexical(rel, scoring.labels_df(spark)).cache()
    gold = evaluate.gold_triples(s)
    preds = pipeline._eval_preds(spark, SFD)
    general = evaluate.per_label_counts(
        evaluate.annotated_pairs_filter(preds, gold), gold
    )
    fused = evaluate.eval_counts_lexical(rel)
    assert sorted(fused.columns) == sorted(general.columns)
    assert _rows(fused) == _rows(general)
    s.unpersist()


def test_threshold_search_lexical_dup_grid_and_raw_min(spark, rel):
    """Duplicate grid values + non-default gold cut: same counts both
    forms (the r5 duplicate-grid-dedup fix must survive the rewrite)."""
    grid = [0.2, 0.5, 0.2, 0.05]
    ldf = scoring.labels_df(spark)
    scored = scoring.score_pairs_lexical(rel, ldf).cache()
    general = evaluate.threshold_search(
        scored, evaluate.gold_triples(scored, raw_min=80), grid=grid
    )
    fused = evaluate.threshold_search_lexical(rel, grid=grid, raw_min=80)
    assert _rows(fused) == _rows(general)
    scored.unpersist()


def test_k1_forms_fall_back_to_decode_chain_when_top_k_is_not_1(
    spark, rel, monkeypatch
):
    """eval_counts, threshold_search and pred_type_signature take their
    fused k=1 forms only at TOP_K == 1; otherwise they equal the
    scored-relation decode chain at that k."""
    from glirel_spark.operators import graph as graph_ops
    from glirel_spark.plans import pipeline

    k1_counts = _rows(pipeline.eval_counts(spark, SF))
    monkeypatch.setattr(config, "TOP_K", 2)
    s = scoring.score_pairs_lexical(rel, scoring.labels_df(spark)).cache()
    gold = evaluate.gold_triples(s)
    preds = decode_ops.decode(s, config.THRESHOLD, 2).select(
        "doc_id",
        F.col("head_start").alias("h_start"),
        (F.col("head_end") - 1).alias("h_end"),
        F.col("tail_start").alias("t_start"),
        (F.col("tail_end") - 1).alias("t_end"),
        "label",
    )
    counts = evaluate.per_label_counts(
        evaluate.annotated_pairs_filter(preds, gold), gold
    )
    got = pipeline.eval_counts(spark, SF)
    assert _rows(got, sorted(counts.columns)) == _rows(counts)
    assert _rows(got) != k1_counts  # k=2 really predicts more

    search = evaluate.threshold_search(s, gold, top_k=2)
    assert _rows(pipeline.threshold_search(spark, SF)) == _rows(search)

    decoded = decode_ops.constraint_filter(
        decode_ops.top_k_per_pair(decode_ops.threshold_filter(s), 2)
    )
    sig = graph_ops.pred_type_signature(decoded=decoded)
    assert _rows(pipeline.pred_type_signature(spark, SF)) == _rows(sig)
    s.unpersist()


@pytest.mark.parametrize("top_k", [1, 2])
def test_fused_neural_equals_decode_chain_sf0001(spark, neural_decode_chain, top_k):
    """The neural plan (k=1: in-UDF decode; k=2: the scored relation,
    the _ments explode, the two mention joins and the broadcast label
    join) == score_pairs_neural -> decode, row for row, on the sf0.001
    corpus. k=2 really keeps more rows than k=1."""
    from glirel_spark.plans import api, pipeline

    fused = api.triples_from(
        pipeline.docs_ments(spark, SF), top_k=top_k, scorer="neural"
    )
    chain = neural_decode_chain(
        pipeline.docs_tokens(spark, SF), pipeline.mentions(spark, SF),
        top_k=top_k,
    )
    assert fused.columns == chain.columns
    got, want = _rows(fused), _rows(chain)
    assert len(want) > 1000
    assert got == want
    if top_k > 1:
        assert len(want) > pipeline.triples_neural(spark, SF).count()


def test_api_top_k2_equals_pipeline_triples(spark):
    """At top_k=2 the api surface and the pipeline query run the same
    payload decode (api.triples_from): row for row on sf0.001, and k=2
    really keeps more rows than k=1."""
    from glirel_spark.plans import api, pipeline

    got = _rows(api.extract_triples(pipeline.docs_tokens(spark, SF), top_k=2))
    want = _rows(pipeline.triples(spark, SF, top_k=2))
    assert got == want
    assert len(want) > pipeline.triples(spark, SF, top_k=1).count()


@pytest.mark.parametrize(
    "scorer,top_k", [("lexical", 1), ("lexical", 2), ("neural", 1), ("neural", 2)]
)
def test_empty_list_constraint_drops_rows(spark, scorer, top_k):
    """allowed_head=[] allows no head type: every row whose decoded label
    carries it is dropped (lexical k=1, relational decode, neural k=1
    and k>1)
    — whereas an absent constraint keeps them."""
    from glirel_spark.plans import api, pipeline

    docs = pipeline.docs_tokens(spark, SF).filter(
        F.col("doc_id").cast("int") < 40
    )

    def labels_out(labels):
        out = api.extract_triples(
            docs, labels, threshold=0.0, top_k=top_k, scorer=scorer
        )
        return {r.label for r in out.select("label").distinct().collect()}

    open_labels = {"used by": {}, "feeds": {}, "depends on": {}}
    assert "used by" in labels_out(open_labels)
    closed = dict(open_labels, **{"used by": {"allowed_head": []}})
    got = labels_out(closed)
    assert "used by" not in got and got
