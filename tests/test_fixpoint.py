"""Round counts and raise bounds of every fixpoint caller, pinned on one
6-node chain n0 - n1 - ... - n5: each caller raises at max_iter = m - 1
and returns the whole-chain answer at max_iter = m. The DuckDB oracles
unroll the same bounds, so m must not move. Also: fixpoint.materialize
is the only lineage cut in the package."""

from __future__ import annotations

import inspect
from pathlib import Path

import pytest

import glirel_spark
from glirel_spark import config
from glirel_spark.operators import corpus_dedup, fixpoint, graph, linking

N = 6
NODES = [f"n{i}" for i in range(N)]
CHAIN = list(zip(NODES, NODES[1:]))
# "x", "xa", "xaa", ...: consecutive forms are 1 edit apart, any other
# pair at least 2, so at max_dist=1 the edit pairs are exactly a chain
FORMS = ["x" + "a" * i for i in range(N)]


def _graph(spark):
    return spark.createDataFrame(
        [(a, config.CLOSURE_PRED, b, 1) for a, b in CHAIN],
        "subj string, pred string, obj string, n_mentions long",
    )


def _components(spark, max_iter):
    out = graph.components(_graph(spark), max_iter=max_iter)
    return {(r.entity, r.component_id, r.component_size) for r in out.collect()}


def _neardup_clusters(spark, max_iter):
    docs = spark.createDataFrame(
        [(n, ["x"]) for n in NODES], "doc_id string, tokens array<string>"
    )
    pairs = spark.createDataFrame(CHAIN, "doc1 string, doc2 string")
    out = corpus_dedup.neardup_clusters(docs, neardups=pairs, max_iter=max_iter)
    return {(r.doc_id, r.canonical_id, r.is_canonical) for r in out.collect()}


def _er_clusters(spark, max_iter):
    m = spark.createDataFrame(
        [(str(i), f) for i, f in enumerate(FORMS)], "doc_id string, text string"
    )
    out = linking.er_clusters(m, max_dist=1, max_iter=max_iter)
    return {(r.name, r.canonical, r.cluster_size) for r in out.collect()}


def _kcore(spark, max_iter):
    out = graph.kcore(_graph(spark), k=2, max_iter=max_iter)
    return {(r.entity, r.core_degree) for r in out.collect()}


def _kg_bfs(spark, max_iter):
    out = graph.kg_bfs(_graph(spark), max_iter=max_iter)
    return {(r.entity, r.dist) for r in out.collect()}


def _kg_closure(spark, max_iter):
    out = graph.kg_closure(_graph(spark), max_iter=max_iter)
    return {(r.src, r.dst, r.dist) for r in out.collect()}


def _kg_bipartite_audit(spark, max_iter):
    out = graph.kg_bipartite_audit(_graph(spark), max_iter=max_iter)
    return {
        (r.component_id, r.n_entities, r.n_conflicted, r.is_bipartite)
        for r in out.collect()
    }


def _ktruss(spark, max_iter):
    out = graph.ktruss(_graph(spark), k=3, max_iter=max_iter)
    return {(r.a, r.b, r.support) for r in out.collect()}


CASES = {
    # caller: (run, m, answer at m)
    "components": (_components, 6, {(n, "n0", N) for n in NODES}),
    "neardup_clusters": (
        _neardup_clusters, 6, {(n, "n0", n == "n0") for n in NODES}
    ),
    "er_clusters": (_er_clusters, 6, {(f, "x", N) for f in FORMS}),
    # the peel removes both ends per round: 6 -> 4 -> 2 -> 0 nodes, then
    # one round to see the empty core is stable
    "kcore": (_kcore, 4, set()),
    "kg_bfs": (_kg_bfs, 6, {(n, i) for i, n in enumerate(NODES)}),
    # seeded at dist 1, so emitting dist 5 and seeing the empty ring
    # at dist 6 needs max_iter = 6
    "kg_closure": (
        _kg_closure,
        6,
        {(NODES[i], NODES[j], j - i) for i in range(N) for j in range(i + 1, N)},
    ),
    "kg_bipartite_audit": (_kg_bipartite_audit, 6, {("n0", N, 0, True)}),
    # a chain has no triangle: round 1 peels every edge, round 2 sees
    # the empty edge set is stable
    "ktruss": (_ktruss, 2, set()),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_chain_rounds_and_raise_bound(spark, name):
    run, m, answer = CASES[name]
    with pytest.raises(RuntimeError, match=f"^{name} "):
        run(spark, m - 1)
    assert run(spark, m) == answer


def test_materialize_is_the_only_lineage_cut():
    pkg = Path(glirel_spark.__file__).parent
    cuts = [
        f"{path.relative_to(pkg)}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        for line in path.read_text().splitlines()
        if "localCheckpoint(" in line
    ]
    assert cuts == ["operators/fixpoint.py: return df.localCheckpoint(eager=False)"]
    assert "localCheckpoint(" in inspect.getsource(fixpoint.materialize)
