"""Coref clustering: union-find semantics (utils.py:86-153), cluster
ordering by earliest mention (utils.py:139-148), A8 aggregation
(utils.py:155-218); union-find == fixpoint.min_label_components."""

from __future__ import annotations

from pyspark.sql import functions as F

from glirel_spark.operators.coref import (
    aggregate_cluster_relations,
    cluster_index,
    cluster_mentions,
    coref_edges,
)
from glirel_spark.operators.fixpoint import min_label_components

M_SCHEMA = "doc_id string, m_id int, start int, end int, type string, text string"


def _mentions(spark, rows):
    return spark.createDataFrame(rows, M_SCHEMA)


def test_transitive_chain(spark):
    # same-text mentions at 0, 10, 20 with window 12: edges (0,10),(10,20)
    # but NOT (0,20) -> one cluster only via transitivity.
    m = _mentions(spark, [
        ("d", 0, 0, 0, "T", "spark"),
        ("d", 1, 10, 10, "T", "spark"),
        ("d", 2, 20, 20, "T", "spark"),
        ("d", 3, 5, 5, "T", "query"),
    ])
    e = coref_edges(m)
    got = {(r.a, r.b) for r in e.collect()}
    assert got == {(0, 1), (1, 2)}  # no direct 0-2 edge (dist 20 > 12)
    cl = {r.m_id: r.root for r in cluster_mentions(m, e).collect()}
    assert cl == {0: 0, 1: 0, 2: 0, 3: 3}


def test_union_find_equals_label_propagation(spark):
    rows = []
    for d in range(4):
        for i, (s, t) in enumerate(
            [(0, "spark"), (3, "table"), (9, "spark"), (15, "spark"), (30, "table")]
        ):
            rows.append((f"d{d}", i, s + d, s + d, "T", t))
    m = _mentions(spark, rows)
    e = coref_edges(m)
    uf = {(r.doc_id, r.m_id): r.root for r in cluster_mentions(m, e).collect()}

    def node(col):
        return F.struct("doc_id", F.col(col).alias("m_id")).alias(col)

    cc = {
        tuple(r.node): tuple(r.root)
        for r in min_label_components(
            e.select(node("a"), node("b")), 20, "coref"
        ).collect()
    }
    # per doc, spark@0 - spark@9 - spark@15 is one component; the two
    # "table" mentions are 27 apart, so they are on no edge
    assert len(uf) == 20 and len(cc) == 12
    assert cc == {k: (k[0], root) for k, root in uf.items() if k in cc}
    assert all(uf[k] == k[1] for k in uf.keys() - cc.keys())


def test_cluster_ordering_by_earliest_mention(spark):
    # cluster containing the earliest start gets idx 0 (W6)
    m = _mentions(spark, [
        ("d", 0, 2, 2, "T", "b"),   # cluster B (earliest start=2) -> idx 0
        ("d", 1, 4, 4, "T", "a"),   # cluster A (start 4) -> idx 1
        ("d", 2, 6, 6, "T", "b"),
        ("d", 3, 8, 8, "T", "a"),
    ])
    e = coref_edges(m)
    ci = cluster_index(m, cluster_mentions(m, e))
    got = {r.m_id: r.cluster_idx for r in ci.collect()}
    assert got == {0: 0, 2: 0, 1: 1, 3: 1}


def test_aggregate_cluster_relations_dedup_and_self_drop(spark):
    m = _mentions(spark, [
        ("d", 0, 0, 0, "T", "spark"),
        ("d", 1, 2, 2, "T", "spark"),   # same cluster as m0
        ("d", 2, 5, 5, "T", "query"),
    ])
    mc = cluster_index(m, cluster_mentions(m, coref_edges(m)))
    triples = spark.createDataFrame(
        [
            # two mention-level triples that collapse to one cluster triple
            ("d", 0, 1, 5, 6, "feeds"),
            ("d", 2, 3, 5, 6, "feeds"),
            ("d", 0, 1, 2, 3, "SELF"),  # dropped
        ],
        "doc_id string, head_start int, head_end int, tail_start int, "
        "tail_end int, label string",
    )
    out = aggregate_cluster_relations(triples, mc).collect()
    assert [(r.h_idx, r.t_idx, r.r) for r in out] == [(0, 1, "feeds")]


def test_fused_equals_union_find_pipeline(spark):
    """cluster_ments_fused over per-doc mention arrays == the general
    cluster_index(cluster_mentions(...)) path, row for row — including
    transitive chains (gap runs), multiple text groups, and docs with
    zero edges."""
    from glirel_spark.operators.coref import cluster_ments_fused

    rows = []
    for d in range(6):
        # same-text chain 0,10,20 (transitive), an isolated far mention,
        # and a second text group interleaved
        layout = [
            (0, "spark"), (10, "spark"), (20, "spark"), (60, "spark"),
            (3, "merge join"), (13, "merge join"), (40, "hash"),
        ]
        for i, (s, t) in enumerate(sorted(layout)):
            e = s + len(t.split()) - 1
            rows.append((f"d{d}", i, s + d, e + d, "T", t))
    m = _mentions(spark, rows)
    expected = {
        (r.doc_id, r.m_id): (r.start, r.end, r.type, r.text, r.cluster_idx)
        for r in cluster_index(m, cluster_mentions(m, coref_edges(m))).collect()
    }

    # pack the same mentions into per-doc arrays (the docs_ments shape)
    import pyspark.sql.functions as F

    dm = m.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("m_id", "start", "end", "type", "text"))
        ).alias("_ments")
    )
    got = {
        (r.doc_id, r.m_id): (r.start, r.end, r.type, r.text, r.cluster_idx)
        for r in cluster_ments_fused(dm).collect()
    }
    assert got == expected and len(got) == len(rows)


def test_fused_matches_python_union_find_on_random_layouts(spark):
    """Randomized (seeded) layouts vs an independent pure-Python
    union-find + ordering oracle: validates the run-break equivalence
    argument (components of the |Δstart|<=d graph on a line are
    gap-broken runs) over layouts with duplicate texts, singletons,
    dense chains, and empty docs."""
    import random

    from glirel_spark.operators.coref import COREF_MAX_DIST, cluster_ments_fused

    rng = random.Random(20260816)
    texts = ["spark", "merge join", "hash", "scan", "spark sql"]
    docs, expected = [], {}
    for d in range(60):
        k = rng.randint(0, 12)
        starts = sorted(rng.sample(range(0, 80), k))
        ments = []
        for i, s in enumerate(starts):
            t = rng.choice(texts)
            ments.append((i, s, s + len(t.split()) - 1, "T", t))
        docs.append((f"d{d}", [list(m) for m in ments]))

        # pure-python union-find oracle
        parent = {m[0]: m[0] for m in ments}

        def find(u):
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        for a in ments:
            for b in ments:
                if (
                    a[0] < b[0]
                    and a[4] == b[4]
                    and abs(a[1] - b[1]) <= COREF_MAX_DIST
                ):
                    ra, rb = find(a[0]), find(b[0])
                    if ra != rb:
                        lo, hi = (ra, rb) if ra < rb else (rb, ra)
                        parent[hi] = lo
        comps = {}
        for m in ments:
            comps.setdefault(find(m[0]), []).append(m)
        ranked = sorted(
            comps.items(), key=lambda kv: (min(x[1] for x in kv[1]), kv[0])
        )
        for ci, (_, members) in enumerate(ranked):
            for m in members:
                expected[(f"d{d}", m[0])] = ci

    dm = spark.createDataFrame(
        docs,
        "doc_id string, _ments array<struct<m_id:int,start:int,end:int,"
        "type:string,text:string>>",
    )
    got = {
        (r.doc_id, r.m_id): r.cluster_idx
        for r in cluster_ments_fused(dm).collect()
    }
    assert got == expected
