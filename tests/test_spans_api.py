"""W3 greedy span selection (evaluator.py:172-215), P13 marker insertion
(base.py:12-57), production API shape (spacy_integration / model.py:587-604)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glirel_spark.operators.fused import with_mentions
from glirel_spark.operators.spans import (
    greedy_select_spans,
    insert_entity_markers,
    remapped_mentions,
)
from glirel_spark.plans.api import as_relation_dicts, curriculum_sort, extract_triples
from glirel_spark.sources.fixtures import make_annotated_docs


def test_greedy_flat_keeps_best_nonoverlapping(spark):
    spans = spark.createDataFrame(
        [
            ("d", 0, 2, "A", 0.9),
            ("d", 1, 3, "B", 0.8),   # overlaps kept (0,2) -> dropped
            ("d", 4, 5, "C", 0.7),
            ("d", 4, 5, "D", 0.6),   # same pos -> overlap -> dropped
        ],
        "doc_id string, start int, end int, type string, prob double",
    )
    out = [(r.start, r.end, r.type) for r in
           greedy_select_spans(spans, flat=True).orderBy("start").collect()]
    assert out == [(0, 2, "A"), (4, 5, "C")]


def test_greedy_nested_allows_nesting(spark):
    spans = spark.createDataFrame(
        [("d", 0, 5, "A", 0.9), ("d", 1, 2, "B", 0.8), ("d", 4, 7, "C", 0.7)],
        "doc_id string, start int, end int, type string, prob double",
    )
    out = [(r.start, r.end) for r in
           greedy_select_spans(spans, flat=False).orderBy("start").collect()]
    assert out == [(0, 5), (1, 2)]  # nested kept, partial overlap dropped


def test_marker_insertion_and_remap(spark):
    docs = spark.createDataFrame(
        [("d", "the spark runs a hash join".split(" "))],
        "doc_id string, tokens array<string>",
    )
    wm = with_mentions(docs)
    out = wm.select(
        insert_entity_markers(F.col("tokens"), F.col("_ments")).alias("marked"),
        remapped_mentions(F.col("_ments")).alias("remap"),
    ).collect()[0]
    assert out.marked == [
        "the", "[E]", "spark", "[/E]", "runs", "a", "[E]", "hash", "join", "[/E]",
    ]
    for m in out.remap:
        seg = out.marked[m.start : m.end + 1]
        assert seg == m.text.split(" ")


def test_extract_triples_api_and_dict_shape(spark):
    docs = spark.createDataFrame(
        [("d0", "spark query table scan window customer".split(" "))],
        "doc_id string, tokens array<string>",
    )
    t = extract_triples(docs)
    d = as_relation_dicts(t).collect()
    assert len(d) > 0
    r = d[0]
    # exclusive ends, text fields, score sorted desc per doc
    assert r.head_pos[1] > r.head_pos[0]
    scores = [x.score for x in d]
    assert scores == sorted(scores, reverse=True)


def test_curriculum_sort(spark):
    docs = make_annotated_docs(spark, n_docs=20, n_labels=10, seed=5)
    out = curriculum_sort(docs).select(F.size("relations").alias("n")).collect()
    ns = [r.n for r in out]
    assert ns == sorted(ns)


@pytest.mark.parametrize(
    "scorer,top_k", [("lexical", 1), ("lexical", 2), ("neural", 1), ("neural", 2)]
)
def test_extract_triples_empty_label_set_is_empty_typed_frame(spark, scorer, top_k):
    docs = spark.createDataFrame(
        [("d0", "spark query table scan window customer".split(" "))],
        "doc_id string, tokens array<string>",
    )
    full = extract_triples(docs, top_k=top_k, scorer=scorer)
    empty = extract_triples(docs, labels={}, top_k=top_k, scorer=scorer)
    assert empty.count() == 0
    assert [(f.name, f.dataType) for f in empty.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]
