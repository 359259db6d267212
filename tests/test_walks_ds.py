"""Deterministic DeepWalk rollouts (kg_walks) and distant supervision
(kg_distant_supervision)."""

from __future__ import annotations

from pyspark.sql import functions as F

from glirel_spark import config
from glirel_spark.operators import graph as graph_ops


def _graph(spark, edges):
    return spark.createDataFrame(
        [(s, "p", o) for s, o in edges], "subj string, pred string, obj string"
    )


def _hash(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * config.SHINGLE_BASE + ord(ch)) % config.HASH_P
    return h


def _succ(t: int, u: str, neighbors: list[str], salt: str) -> str:
    return min(neighbors, key=lambda v: (_hash(f"{salt}{t}:{u}>{v}"), v))


def test_kg_walks_matches_python_replay(spark):
    edges = [("A", "B"), ("B", "C"), ("C", "A"), ("C", "D"), ("D", "E")]
    nbrs: dict[str, set[str]] = {}
    for s, o in edges:
        nbrs.setdefault(s, set()).add(o)
        nbrs.setdefault(o, set()).add(s)
    out = {
        r["entity"]: r
        for r in graph_ops.kg_walks(_graph(spark, edges), walk_len=3).collect()
    }
    assert set(out) == set(nbrs)
    for start in nbrs:
        cur = start
        for t in (1, 2, 3):
            cur = _succ(t, cur, sorted(nbrs[cur]), config.WALK_SALT)
            assert out[start][f"n{t}"] == cur


def test_kg_walks_partitioning_invariant_and_connected(spark):
    edges = [(f"e{i}", f"e{(i * 3 + 1) % 17}") for i in range(17)]
    g = _graph(spark, [(s, o) for s, o in edges if s != o])
    a = sorted(map(tuple, graph_ops.kg_walks(g.repartition(1), walk_len=4).collect()))
    b = sorted(map(tuple, graph_ops.kg_walks(g.repartition(9), walk_len=4).collect()))
    assert a == b
    nbrs: dict[str, set[str]] = {}
    for s, o in edges:
        if s != o:
            nbrs.setdefault(s, set()).add(o)
            nbrs.setdefault(o, set()).add(s)
    for row in a:
        path = list(row)
        for u, v in zip(path, path[1:]):
            assert v in nbrs[u]  # every step follows a real edge


def test_distant_supervision_hand_case(spark):
    # d1 extracts (A,p,B); d2 extracts (A,q,C) and (B,r,C): A and B
    # co-occur in d2 with no (A,p,B) extraction there -> silver example.
    linked = spark.createDataFrame(
        [
            ("d1", "A", "p", "B", 0.9),
            ("d2", "A", "q", "C", 0.9),
            ("d2", "B", "r", "C", 0.9),
        ],
        "doc_id string, subj string, pred string, obj string, prob double",
    )
    out = {
        (r["subj"], r["pred"], r["obj"]): r
        for r in graph_ops.kg_distant_supervision(linked, min_support=2).collect()
    }
    assert set(out) == {("A", "p", "B")}
    r = out[("A", "p", "B")]
    assert r["n_support_docs"] == 2
    assert r["n_new_docs"] == 1
    assert r["first_new_doc"] == "d2"


def test_distant_supervision_min_support_gate(spark):
    linked = spark.createDataFrame(
        [("d1", "A", "p", "B", 0.9)],
        "doc_id string, subj string, pred string, obj string, prob double",
    )
    assert graph_ops.kg_distant_supervision(linked, min_support=2).count() == 0
    one = graph_ops.kg_distant_supervision(linked, min_support=1).collect()
    assert [
        (r["subj"], r["pred"], r["obj"], r["n_support_docs"], r["n_new_docs"],
         r["first_new_doc"])
        for r in one
    ] == [("A", "p", "B", 1, 0, "")]


def test_skipgram_pairs_hand_count(spark):
    # one walk A->B->C (walk_len=2), window=1:
    # positions [A,B,C]; ordered pairs within 1: (A,B),(B,A),(B,C),(C,B)
    walks = spark.createDataFrame(
        [("A", "B", "C")], "entity string, n1 string, n2 string"
    )
    out = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in graph_ops.kg_skipgram_pairs(walks, walk_len=2, window=1).collect()
    }
    assert out == {("A", "B"): 1, ("B", "A"): 1, ("B", "C"): 1, ("C", "B"): 1}


def test_skipgram_pairs_window_and_counts(spark):
    # repeated nodes aggregate; window=2 reaches two positions away
    walks = spark.createDataFrame(
        [("A", "B", "A"), ("A", "B", "A")], "entity string, n1 string, n2 string"
    )
    out = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in graph_ops.kg_skipgram_pairs(walks, walk_len=2, window=2).collect()
    }
    # per walk: (A,B)x2, (B,A)x2, (A,A)x2 -> doubled over two walks
    assert out == {("A", "B"): 4, ("B", "A"): 4, ("A", "A"): 4}


def test_kg_closure_chain_and_cycle(spark):
    # chain A->B->C->D plus cycle D->B: closure with min dists
    g = spark.createDataFrame(
        [("A", "dep", "B"), ("B", "dep", "C"), ("C", "dep", "D"), ("D", "dep", "B")],
        "subj string, pred string, obj string",
    )
    out = {
        (r["src"], r["dst"]): r["dist"]
        for r in graph_ops.kg_closure(g, pred="dep").collect()
    }
    assert out == {
        ("A", "B"): 1, ("B", "C"): 1, ("C", "D"): 1, ("D", "B"): 1,
        ("A", "C"): 2, ("B", "D"): 2, ("C", "B"): 2, ("D", "C"): 2,
        ("A", "D"): 3,
    }


def test_kg_closure_filters_predicate(spark):
    g = spark.createDataFrame(
        [("A", "dep", "B"), ("B", "other", "C")],
        "subj string, pred string, obj string",
    )
    out = graph_ops.kg_closure(g, pred="dep").collect()
    assert [(r["src"], r["dst"], r["dist"]) for r in out] == [("A", "B", 1)]


def test_label_prop_two_cliques(spark):
    # two triangles joined by one bridge edge: after 3 sync rounds each
    # triangle converges to its min label; replay in python to pin it.
    edges = [("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
             ("b1", "b2"), ("b2", "b3"), ("b3", "b1"), ("a1", "b1")]
    g = _graph(spark, edges)
    out = {r["entity"]: r["community"]
           for r in graph_ops.kg_label_prop(g, rounds=3).collect()}

    nbrs: dict[str, set[str]] = {}
    for s, o in edges:
        nbrs.setdefault(s, set()).add(o)
        nbrs.setdefault(o, set()).add(s)
    lab = {v: v for v in nbrs}
    for _ in range(3):
        nxt = {}
        for v in nbrs:
            cnt: dict[str, int] = {}
            for u in nbrs[v]:
                cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            nxt[v] = min(cnt, key=lambda L: (-cnt[L], L))
        lab = nxt
    assert out == lab


def test_entity_salience_hand_case(spark):
    from glirel_spark.operators import linking

    mentions = spark.createDataFrame(
        [("d1", 0, 0, "TOOL", "spark"), ("d1", 5, 5, "TOOL", "spark"),
         ("d1", 9, 9, "OBJECT", "unknownx")],
        "doc_id string, start int, end int, type string, text string",
    )
    toks = spark.createDataFrame(
        [("d1", ["t"] * 10)], "doc_id string, tokens array<string>"
    )
    out = {
        r["entity"]: r
        for r in linking.entity_salience(
            mentions, toks, config.ALIAS_DICT
        ).collect()
    }
    sp = out["Q:apache_spark"]
    assert (sp["n_mentions"], sp["first_pos"], sp["last_pos"]) == (2, 0, 5)
    assert sp["lead_milli"] == 1000  # first token -> full lead score
    un = out["Q:surface:unknownx"]
    assert (un["n_mentions"], un["first_pos"], un["lead_milli"]) == (1, 9, 100)


def test_sorted_neighborhood_pairs(spark):
    from glirel_spark.operators import linking

    mentions = spark.createDataFrame(
        [("d", 0, 0, "T", t) for t in
         ["alpha", "alphb", "beta", "gamma", "delta", "alpha"]],
        "doc_id string, start int, end int, type string, text string",
    )
    out = {
        (r["e1"], r["e2"]): (r["gap"], r["dist"])
        for r in linking.er_sorted_neighborhood(mentions, window=2).collect()
    }
    # sorted distinct names: alpha(0) alphb(1) beta(2) delta(3) gamma(4)
    expect = {
        ("alpha", "alphb"): (1, 1),
        ("alpha", "beta"): (2, 4),
        ("alphb", "beta"): (1, 5),
        ("alphb", "delta"): (2, 5),
        ("beta", "delta"): (1, 2),
        ("beta", "gamma"): (2, 4),
        ("delta", "gamma"): (1, 4),
    }
    assert out == expect


def test_sorted_neighborhood_partitioning_invariant(spark):
    from glirel_spark.operators import linking

    rows = [("d", 0, 0, "T", f"name{(i * 13) % 37:03d}") for i in range(37)]
    m = spark.createDataFrame(
        rows, "doc_id string, start int, end int, type string, text string"
    )
    a = sorted(map(tuple, linking.er_sorted_neighborhood(m.repartition(1)).collect()))
    b = sorted(map(tuple, linking.er_sorted_neighborhood(m.repartition(8)).collect()))
    assert a == b
    # every name has exactly window successors except the tail
    assert len(a) == 3 * 37 - (1 + 2 + 3)


def test_bipartite_audit_triangle_vs_path(spark):
    g = _graph(spark, [("x", "y"), ("y", "z"), ("z", "x"), ("p", "q")])
    out = {r["component_id"]: r
           for r in graph_ops.kg_bipartite_audit(g).collect()}
    assert set(out) == {"p", "x"}
    assert out["p"]["is_bipartite"] is True
    assert (out["p"]["n_entities"], out["p"]["n_conflicted"]) == (2, 0)
    assert out["x"]["is_bipartite"] is False
    assert (out["x"]["n_entities"], out["x"]["n_conflicted"]) == (3, 3)


def test_bipartite_audit_even_cycle(spark):
    g = _graph(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
    (r,) = graph_ops.kg_bipartite_audit(g).collect()
    assert r["is_bipartite"] is True and r["n_entities"] == 4


def test_kg_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [("A", "p", "B", 2), ("A", "p", "C", 1)],
        "subj string, pred string, obj string, n_mentions long",
    )
    new = spark.createDataFrame(
        [("A", "p", "B", 3), ("X", "q", "Y", 1)],
        "subj string, pred string, obj string, n_mentions long",
    )
    out = {
        (r["subj"], r["pred"], r["obj"]): (r["status"], r["n_before"], r["n_after"])
        for r in graph_ops.kg_snapshot_diff(old, new).collect()
    }
    assert out == {
        ("A", "p", "B"): ("changed", 2, 3),
        ("A", "p", "C"): ("removed", 1, 0),
        ("X", "q", "Y"): ("added", 0, 1),
    }


def test_kg_summary_hand_case(spark):
    # edges: A->B, B->A (reciprocal pair), A->C; preds p,q
    g = spark.createDataFrame(
        [("A", "p", "B"), ("B", "q", "A"), ("A", "p", "C")],
        "subj string, pred string, obj string",
    )
    (r,) = graph_ops.kg_summary(g).collect()
    assert (r["n_entities"], r["n_edges_directed"], r["n_preds"]) == (3, 3, 2)
    assert r["n_reciprocal"] == 2  # A->B and B->A each count
    assert r["reciprocity_milli"] == 666
    assert r["density_micro"] == 500000  # 3 / (3*2)


def test_kg_summary_degenerate_graphs(spark):
    """Regression (round-4 ADVICE): empty / single-entity graphs must
    yield 0 ratios, not NULL (Spark DIV) vs crash (DuckDB //)."""
    empty = spark.createDataFrame(
        [], "subj string, pred string, obj string"
    )
    (r,) = graph_ops.kg_summary(empty).collect()
    assert (r["n_entities"], r["n_edges_directed"]) == (0, 0)
    assert r["reciprocity_milli"] == 0 and r["density_micro"] == 0

    # single entity: only a self-loop, which the edge dedup drops
    loop = spark.createDataFrame(
        [("A", "p", "A")], "subj string, pred string, obj string"
    )
    (r,) = graph_ops.kg_summary(loop).collect()
    assert (r["n_entities"], r["n_edges_directed"]) == (0, 0)
    assert r["reciprocity_milli"] == 0 and r["density_micro"] == 0


def test_ktruss_peels_tail_keeps_triangles(spark):
    # triangle x-y-z plus a pendant chain z-w-v: with k=3 the chain
    # peels (no triangle support), the triangle survives with support 1
    g = _graph(spark, [("x", "y"), ("y", "z"), ("z", "x"), ("z", "w"), ("w", "v")])
    out = {
        (r["a"], r["b"]): r["support"]
        for r in graph_ops.ktruss(g, k=3).collect()
    }
    assert out == {("x", "y"): 1, ("y", "z"): 1, ("x", "z"): 1}


def test_ktruss_k4_needs_two_triangles(spark):
    # K4 minus one edge: every edge has support >= 1 but only the
    # shared diagonal has 2; k=4 peels everything (cascade)
    g = _graph(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"), ("d", "c")])
    assert graph_ops.ktruss(g, k=4).count() == 0
    # full K4: all 6 edges have support 2 -> all survive at k=4
    g4 = _graph(
        spark,
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")],
    )
    out = graph_ops.ktruss(g4, k=4).collect()
    assert len(out) == 6 and all(r["support"] == 2 for r in out)
