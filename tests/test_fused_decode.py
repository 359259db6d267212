"""Fused-plan equivalence: the per-row lexical argmax decode and the
neural scorer's in-UDF decode must be ROW-IDENTICAL to the relational
forms they replace (crossJoin or scored relation + threshold + per-pair
top-k), and the fused k=1 query plans (grid search, eval counts, type
signature) must hash-equal their DuckDB oracle, which decodes the
scored relation, on the sf0.001 corpus."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from glirel_spark import config, oracle
from glirel_spark.operators import decode as decode_ops
from glirel_spark.operators import evaluate
from glirel_spark.operators import scoring

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from check_oracle import norm_hash  # noqa: E402

SF = "/root/testdata/sf0.001"


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def rel(spark):
    from glirel_spark.plans import pipeline

    return pipeline.pairs(spark, SF).filter("is_rel")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    yield c
    c.close()


def _assert_oracle_equal(df, con, sql):
    """The driver's comparison: same columns, same row count, same
    normalized value hash."""
    got, want = df.toPandas(), con.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) > 0
    assert norm_hash(got) == norm_hash(want)


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


def test_pred_type_signature_decoded_input_equals_scored(rel, con):
    """The fused k=1 typed relation's signature == the oracle's
    signature over the scored relation's threshold -> top-1 ->
    constraint decode."""
    from glirel_spark.operators import graph as graph_ops

    sig = graph_ops.pred_type_signature(
        decoded=scoring.lexical_topk1_triples(rel, formatted=False)
    )
    _assert_oracle_equal(sig, con, oracle.q_pred_type_signature())


def test_threshold_search_lexical_equals_scored_form(rel, con):
    """The one-pass grid search == the oracle's scored-relation decode
    at every grid threshold."""
    _assert_oracle_equal(
        evaluate.threshold_search_lexical(rel), con, oracle.q_threshold_search()
    )


def test_eval_counts_lexical_equals_scored_chain(rel, con):
    """Row-local counts == the oracle's scored -> triples -> J5 filter
    -> per-label counts chain."""
    _assert_oracle_equal(
        evaluate.eval_counts_lexical(rel), con, oracle.q_eval_counts()
    )


def test_threshold_search_lexical_dup_grid_and_raw_min(rel, con):
    """Duplicate grid values + non-default gold cut: same metrics as the
    oracle (the r5 duplicate-grid-dedup fix must survive the rewrite)."""
    grid = [0.2, 0.5, 0.2, 0.05]
    _assert_oracle_equal(
        evaluate.threshold_search_lexical(rel, grid=grid, raw_min=80),
        con, oracle.q_threshold_search(grid=grid, raw_min=80),
    )


@pytest.mark.parametrize("top_k", [1, 2])
def test_fused_neural_equals_decode_chain_sf0001(spark, neural_decode_chain, top_k):
    """The neural plan (the in-UDF decode at every k) ==
    score_pairs_neural -> decode, row for row, on the sf0.001 corpus.
    k=2 really keeps more rows than k=1."""
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


@pytest.mark.parametrize("scorer", ["lexical", "neural"])
def test_top_k_below_1_is_rejected(spark, scorer):
    """Both scorers refuse a rank count below 1 at plan build, rather
    than one keeping nothing and the other slicing from the end."""
    from glirel_spark.plans import api, pipeline

    for k in (0, -1):
        with pytest.raises(ValueError, match="top_k"):
            api.triples_from(pipeline.docs_ments(spark, SF), top_k=k, scorer=scorer)


@pytest.mark.parametrize(
    "scorer,top_k", [("lexical", 1), ("lexical", 2), ("neural", 1), ("neural", 2)]
)
def test_empty_list_constraint_drops_rows(spark, scorer, top_k):
    """allowed_head=[] allows no head type: every row whose decoded label
    carries it is dropped (lexical k=1, relational decode, the neural
    in-UDF decode at k=1 and k>1) — whereas an absent constraint keeps
    them."""
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
