"""Pair-generation ordering/membership contract.

Transliterates the reference's own golden expectation
(glirel/modules/test_rel_rep.py:33-115): bidirectional pairs, no
self-pairs, row-major (head index, tail index) order; plus the distance
predicate (base.py:95-97) and the coref i<j mask (base.py:83-100).
"""

from __future__ import annotations

from glirel_spark.operators.fused import _MENTION_T, pairs_from


def _mentions_df(spark, spans, doc_id="d0"):
    """One (doc_id, tokens, _ments) row, the with_mentions shape, with a
    hand-built mention array numbered in (start, end) order."""
    tokens = [f"tok{i}" for i in range(max(e for _, e in spans) + 1)]
    ments = [(i, s, e, "T", f"tok{s}") for i, (s, e) in enumerate(spans)]
    return spark.createDataFrame(
        [(doc_id, tokens, ments)],
        f"doc_id string, tokens array<string>, _ments {_MENTION_T}",
    )


def test_golden_20_pairs(spark):
    # span_idx = [[1,1],[2,2],[3,3],[4,4],[5,5]] -> the reference's
    # expected 20-pair tensor (test_rel_rep.py:33-53), row-major.
    m = _mentions_df(spark, [(1, 1), (2, 2), (3, 3), (4, 4), (5, 5)])
    got = (
        pairs_from(m, max_distance=None)
        .orderBy("head_m_id", "tail_m_id")
        .select("h_start", "h_end", "t_start", "t_end")
        .collect()
    )
    expected = [
        (1, 1, 2, 2), (1, 1, 3, 3), (1, 1, 4, 4), (1, 1, 5, 5),
        (2, 2, 1, 1), (2, 2, 3, 3), (2, 2, 4, 4), (2, 2, 5, 5),
        (3, 3, 1, 1), (3, 3, 2, 2), (3, 3, 4, 4), (3, 3, 5, 5),
        (4, 4, 1, 1), (4, 4, 2, 2), (4, 4, 3, 3), (4, 4, 5, 5),
        (5, 5, 1, 1), (5, 5, 2, 2), (5, 5, 3, 3), (5, 5, 4, 4),
    ]
    assert [tuple(r) for r in got] == expected


def test_distance_predicate(spark):
    # |h_start - t_start| <= D keeps rel pairs; beyond-D i<j pairs
    # survive only as coref (the combined mask union, base.py:100).
    m = _mentions_df(spark, [(0, 0), (3, 3), (100, 100)])
    rows = pairs_from(m, max_distance=8).collect()
    got = {(r.head_m_id, r.tail_m_id): (r.is_rel, r.is_coref) for r in rows}
    assert got[(0, 1)] == (True, True)
    assert got[(1, 0)] == (True, False)
    assert got[(0, 2)] == (False, True)   # coref-only (distance > 8)
    assert got[(1, 2)] == (False, True)
    assert (2, 0) not in got              # not rel (dist), not coref (i>j)
    assert (2, 1) not in got


def test_no_self_pairs_and_counts(spark):
    m = _mentions_df(spark, [(i, i) for i in range(6)])
    df = pairs_from(m, max_distance=None)
    assert df.count() == 6 * 5
    assert df.filter("head_m_id = tail_m_id").count() == 0


def test_cross_document_isolation(spark):
    a = _mentions_df(spark, [(0, 0), (1, 1)], doc_id="a")
    b = _mentions_df(spark, [(0, 0), (1, 1)], doc_id="b")
    df = pairs_from(a.union(b), max_distance=None)
    assert df.count() == 4  # 2 per doc, never across docs
