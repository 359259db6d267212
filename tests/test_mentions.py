"""Mention hygiene: dedup (utils.py:6-36), keep-longer overlap resolution
(process_wiki_zsl.py:143-162), the long-entity filter before it
(process_wiki_zsl.py:72), end-inclusive convention (README.md:153) — on
the fused per-document plan (operators/fused.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from glirel_spark.operators.fused import mentions_fused, mentions_from, with_mentions


def _docs(spark, texts):
    return spark.createDataFrame(
        [(f"d{i}", t.split(" ")) for i, t in enumerate(texts)],
        "doc_id string, tokens array<string>",
    )


def _mentions(spark, texts, **kw):
    return mentions_from(with_mentions(_docs(spark, texts), **kw))


def test_bigram_suppresses_unigram(spark):
    # "table scan" (len 2) dominates "table" (len 1) at the same start.
    df = _mentions(spark, ["the table scan is fast"])
    rows = {(r.start, r.end): (r.type, r.text) for r in df.collect()}
    assert rows == {(1, 2): ("ALGO", "table scan")}


def test_equal_length_tie_keeps_earlier(spark):
    # "sort merge join": sort-merge(0,1) and merge-join(1,2) overlap with
    # equal length -> keep the earlier start (deterministic greedy).
    df = _mentions(spark, ["sort merge join"])
    rows = {(r.start, r.end): r.text for r in df.collect()}
    assert rows == {(0, 1): "sort merge"}


def test_end_inclusive_and_m_id_order(spark):
    df = _mentions(spark, ["spark query spark"])
    rows = sorted((r.m_id, r.start, r.end, r.text) for r in df.collect())
    assert rows == [(0, 0, 0, "spark"), (1, 1, 1, "query"), (2, 2, 2, "spark")]


def test_dedup_spans(spark):
    # P10: at most one mention per (doc_id, start, end) over the corpus
    from glirel_spark.plans.pipeline import docs_tokens

    m = mentions_fused(docs_tokens(spark, "/root/testdata/sf0.001"))
    n, n_spans = m.select(
        F.count("*"), F.count_distinct("doc_id", "start", "end")
    ).first()
    assert n == n_spans > 0


def test_overlap_non_adjacent_untouched(spark):
    df = _mentions(spark, ["spark a b c d hash join"])
    rows = sorted((r.start, r.end, r.text) for r in df.collect())
    assert rows == [(0, 0, "spark"), (5, 6, "hash join")]


def test_long_entity_filtered_before_overlap_resolution(spark):
    """P12 order (reference process_wiki_zsl.py:72 then 143-162): an
    over-long entity is dropped BEFORE dominance, so a shorter span it
    overlaps must survive."""
    text = ["the table scan is fast"]
    # "table scan" (10 chars) is over the limit: "table" survives
    kept = _mentions(spark, text, max_chars=9).collect()
    assert [(r.start, r.end, r.text) for r in kept] == [(1, 1, "table")]
    # within the limit the bigram dominates as usual; the wrong order
    # (overlap first) would have left nothing at max_chars=9
    kept = _mentions(spark, text).collect()
    assert [(r.start, r.end, r.text) for r in kept] == [(1, 2, "table scan")]
