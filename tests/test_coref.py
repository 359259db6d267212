"""Coref clustering: union-find semantics (utils.py:86-153), cluster
ordering by earliest mention (utils.py:139-148), A8 aggregation
(utils.py:155-218); union-find == fixpoint.min_label_components."""

from __future__ import annotations

from pyspark.sql import functions as F

from glirel_spark.operators.coref import (
    COREF_MAX_DIST,
    aggregate_cluster_relations,
    cluster_ments_fused,
)
from glirel_spark.operators.fixpoint import min_label_components

M_SCHEMA = "doc_id string, m_id int, start int, end int, type string, text string"


def _clusters(spark, rows):
    """cluster_ments_fused over ``rows`` (M_SCHEMA mentions) packed into
    per-doc ``_ments`` arrays — the docs_ments shape."""
    dm = (
        spark.createDataFrame(rows, M_SCHEMA)
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("m_id", "start", "end", "type", "text"))
            ).alias("_ments")
        )
    )
    return cluster_ments_fused(dm)


def _roots(clustered):
    """{(doc_id, m_id): root}, root = the min m_id of the mention's
    cluster — union-find's root when unions keep the smaller id."""
    rows = clustered.collect()
    root = {}
    for r in rows:
        k = (r.doc_id, r.cluster_idx)
        root[k] = min(root.get(k, r.m_id), r.m_id)
    return {(r.doc_id, r.m_id): root[(r.doc_id, r.cluster_idx)] for r in rows}


def _python_clusters(ments):
    """Pure-Python union-find over the coref edges (same text,
    |Δstart| <= COREF_MAX_DIST) + W6 ordering: {m_id: cluster_idx} for
    ``ments`` = [(m_id, start, end, type, text)] of one document."""
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
    return {m[0]: ci for ci, (_, members) in enumerate(ranked) for m in members}


def test_transitive_chain(spark):
    # same-text mentions at 0, 10, 20 with window 12: edges (0,10),(10,20)
    # but NOT (0,20) -> one cluster only via transitivity.
    rows = [
        ("d", 0, 0, 0, "T", "spark"),
        ("d", 1, 10, 10, "T", "spark"),
        ("d", 2, 20, 20, "T", "spark"),
        ("d", 3, 5, 5, "T", "query"),
    ]
    cl = {m: root for (_, m), root in _roots(_clusters(spark, rows)).items()}
    assert cl == {0: 0, 1: 0, 2: 0, 3: 3}
    # no direct 0-2 edge (dist 20 > 12): without the middle link they part
    cut = {m: root for (_, m), root in _roots(
        _clusters(spark, [r for r in rows if r[1] != 1])
    ).items()}
    assert cut == {0: 0, 2: 2, 3: 3}


def test_union_find_equals_label_propagation(spark):
    rows = []
    for d in range(4):
        for i, (s, t) in enumerate(
            [(0, "spark"), (3, "table"), (9, "spark"), (15, "spark"), (30, "table")]
        ):
            rows.append((f"d{d}", i, s + d, s + d, "T", t))
    uf = _roots(_clusters(spark, rows))

    # the coref edges, by hand: per doc, spark@0 - spark@9 - spark@15
    # (0 and 15 are 15 apart); the two "table" mentions are 27 apart,
    # so they are on no edge
    edges = spark.createDataFrame(
        [(f"d{d}", a, b) for d in range(4) for a, b in [(0, 2), (2, 3)]],
        "doc_id string, a int, b int",
    )

    def node(col):
        return F.struct("doc_id", F.col(col).alias("m_id")).alias(col)

    cc = {
        tuple(r.node): tuple(r.root)
        for r in min_label_components(
            edges.select(node("a"), node("b")), 20, "coref"
        ).collect()
    }
    assert len(uf) == 20 and len(cc) == 12
    assert cc == {k: (k[0], root) for k, root in uf.items() if k in cc}
    assert all(uf[k] == k[1] for k in uf.keys() - cc.keys())


def test_cluster_ordering_by_earliest_mention(spark):
    # cluster containing the earliest start gets idx 0 (W6)
    rows = [
        ("d", 0, 2, 2, "T", "b"),   # cluster B (earliest start=2) -> idx 0
        ("d", 1, 4, 4, "T", "a"),   # cluster A (start 4) -> idx 1
        ("d", 2, 6, 6, "T", "b"),
        ("d", 3, 8, 8, "T", "a"),
    ]
    got = {r.m_id: r.cluster_idx for r in _clusters(spark, rows).collect()}
    assert got == {0: 0, 2: 0, 1: 1, 3: 1}


def test_aggregate_cluster_relations_dedup_and_self_drop(spark):
    mc = _clusters(spark, [
        ("d", 0, 0, 0, "T", "spark"),
        ("d", 1, 2, 2, "T", "spark"),   # same cluster as m0
        ("d", 2, 5, 5, "T", "query"),
    ])
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
    """cluster_ments_fused over per-doc mention arrays == a pure-Python
    union-find + ordering, row for row — including transitive chains
    (gap runs), multiple text groups, and docs with zero edges."""
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
    expected = {}
    for d in range(6):
        doc = [r for r in rows if r[0] == f"d{d}"]
        idx = _python_clusters([r[1:] for r in doc])
        for r in doc:
            expected[(r[0], r[1])] = (*r[2:], idx[r[1]])

    got = {
        (r.doc_id, r.m_id): (r.start, r.end, r.type, r.text, r.cluster_idx)
        for r in _clusters(spark, rows).collect()
    }
    assert got == expected and len(got) == len(rows)


def test_fused_matches_python_union_find_on_random_layouts(spark):
    """Randomized (seeded) layouts vs an independent pure-Python
    union-find + ordering oracle: validates the run-break equivalence
    argument (components of the |Δstart|<=d graph on a line are
    gap-broken runs) over layouts with duplicate texts, singletons,
    dense chains, and empty docs."""
    import random

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
        for m_id, ci in _python_clusters(ments).items():
            expected[(f"d{d}", m_id)] = ci

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
