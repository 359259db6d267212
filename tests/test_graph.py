"""Linking + graph materialization: alias canonicalization (J7), the
two-exchange aggregation == direct aggregation (skew-safety is
semantics-preserving)."""

from __future__ import annotations

from pyspark.sql import functions as F

from glirel_spark.config import ALIAS_DICT
from glirel_spark.operators.graph import materialize_graph
from glirel_spark.operators.linking import canonicalize, link_triples

T_SCHEMA = (
    "doc_id string, head_start int, head_end int, tail_start int, tail_end int, "
    "head_text string, tail_text string, label string, raw int, prob double"
)


def _triples(spark, rows):
    return spark.createDataFrame(rows, T_SCHEMA)


def _direct(linked):
    """The graph oracle's plan (oracle.q_graph): one DuckDB GROUP BY
    subj, pred, obj over the same linked rows."""
    import duckdb

    con = duckdb.connect()
    con.register("linked", linked.select("subj", "pred", "obj", "doc_id", "prob").toPandas())
    return sorted(con.execute(
        "SELECT subj, pred, obj, CAST(count(*) AS BIGINT) AS n_mentions,"
        " CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,"
        " max(prob) AS max_prob, min(doc_id) AS min_doc_id"
        " FROM linked GROUP BY subj, pred, obj"
    ).fetchall())


def test_canonicalize_alias_and_fallback(spark):
    df = spark.createDataFrame([("Spark",), ("unknownthing",)], "t string")
    out = canonicalize(df, ALIAS_DICT, "t", "cid").collect()
    got = {r.t: r.cid for r in out}
    assert got["Spark"] == "Q:apache_spark"         # case-insensitive match
    assert got["unknownthing"] == "Q:surface:unknownthing"


def test_canonicalize_lowercase_alias_collision_keeps_first_sorted(spark):
    """Aliases equal once lowercased must not raise DUPLICATED_MAP_KEY:
    the first alias in sorted order wins ("Spark" < "spark")."""
    df = spark.createDataFrame([("spark",), ("SPARK",)], "t string")
    out = canonicalize(df, {"spark": "Q:b", "Spark": "Q:a"}, "t", "cid").collect()
    assert {r.t: r.cid for r in out} == {"spark": "Q:a", "SPARK": "Q:a"}


def test_link_triples_shape(spark):
    t = _triples(spark, [("d", 0, 1, 2, 3, "spark", "customer", "used by", 90, 0.9)])
    out = link_triples(t, ALIAS_DICT).collect()[0]
    assert (out.subj, out.pred, out.obj) == ("Q:apache_spark", "used by", "Q:customer")


def test_two_stage_equals_direct(spark):
    # skewed: one hot (subj,pred,obj) key across many docs
    rows = []
    for d in range(40):
        rows.append((f"d{d:02d}", 0, 1, 2, 3, "spark", "customer", "used by", 90, 0.5 + d / 100))
    rows.append(("d99", 0, 1, 2, 3, "table", "query", "feeds", 80, 0.8))
    t = _triples(spark, rows)
    linked = link_triples(t, ALIAS_DICT)
    a = sorted(tuple(r) for r in materialize_graph(linked).collect())
    assert a == _direct(linked)
    hot = next(r for r in a if r[0] == "Q:apache_spark")
    assert hot[3] == 40 and hot[4] == 40  # n_mentions, n_docs


def test_graph_n_docs_distinct(spark):
    rows = [
        ("d1", 0, 1, 2, 3, "spark", "customer", "used by", 90, 0.9),
        ("d1", 4, 5, 6, 7, "spark", "customer", "used by", 90, 0.7),  # same doc
        ("d2", 0, 1, 2, 3, "spark", "customer", "used by", 90, 0.8),
    ]
    linked = link_triples(_triples(spark, rows), ALIAS_DICT)
    g = materialize_graph(linked).collect()
    assert [tuple(r) for r in g] == _direct(linked)
    r = g[0]
    assert r.n_mentions == 3 and r.n_docs == 2
    assert r.max_prob == 0.9 and r.min_doc_id == "d1"


def test_entity_degrees(spark):
    from glirel_spark.operators.graph import entity_degrees

    g = spark.createDataFrame(
        [
            ("A", "p1", "B", 3),
            ("A", "p2", "C", 1),
            ("B", "p1", "A", 2),
        ],
        "subj string, pred string, obj string, n_mentions long",
    )
    rows = {
        r.entity: (r.out_degree, r.in_degree, r.n_preds, r.weighted_degree)
        for r in entity_degrees(g).collect()
    }
    assert rows["A"] == (2, 1, 2, 6)  # out p1,p2 (3+1); in p1 (2)
    assert rows["B"] == (1, 1, 1, 5)
    assert rows["C"] == (0, 1, 1, 1)


def test_two_hop_paths(spark):
    from glirel_spark.operators.graph import two_hop_paths

    g = spark.createDataFrame(
        [
            ("A", "p1", "B", 3),
            ("B", "p2", "C", 1),
            ("B", "p3", "B", 2),  # self-loop: never a bridge endpoint
            ("C", "p4", "A", 2),
        ],
        "subj string, pred string, obj string, n_mentions long",
    )
    paths = {tuple(r) for r in two_hop_paths(g).collect()}
    assert paths == {
        ("A", "p1", "B", "p2", "C"),
        ("B", "p2", "C", "p4", "A"),
        ("C", "p4", "A", "p1", "B"),
    }


def test_triangles(spark):
    from glirel_spark.operators.graph import triangles

    g = spark.createDataFrame(
        [
            ("A", "p", "B", 1), ("B", "p", "C", 1), ("C", "p", "A", 1),  # cycle
            ("C", "p", "D", 1), ("D", "p", "C", 1),  # 2-cycle: not a triangle
            ("A", "q", "B", 1),  # parallel edge: must not double-count
        ],
        "subj string, pred string, obj string, n_mentions long",
    )
    assert {tuple(r) for r in triangles(g).collect()} == {("A", "B", "C")}


def test_two_stage_equals_direct_under_zipfian_skew(spark):
    """SURVEY §7 'hot-entity skew': a Zipf-distributed synthetic edge
    set (hottest entity on ~25% of all rows, like a web-scale KG's top
    entity) must aggregate identically through the two-stage plan, and
    the exchange into the final aggregate must be fed by a map-side
    partial aggregate (the property that bounds any one reducer's share
    of the hot key to one row per upstream partition)."""
    from pyspark.sql import functions as F

    n = 20000
    # deterministic Zipf-ish: entity rank r with weight 1/r over 64
    # entities; id from a hash so rows interleave arbitrarily
    base = spark.range(n).select(
        F.col("id").cast("long").alias("i"),
        (F.floor(F.lit(64.0) / (F.pmod(F.hash("id"), 1000) / 1000.0 * 63.0 + 1.0))
         ).cast("int").alias("rank"),
    )
    linked = base.select(
        F.concat(F.lit("E"), F.col("rank")).alias("subj"),
        F.lit("related to").alias("pred"),
        F.concat(F.lit("E"), (F.col("rank") + 1)).alias("obj"),
        (F.col("i") % 500).cast("string").alias("doc_id"),
        (F.pmod(F.col("i"), 100) / 100.0).alias("prob"),
    )
    hot_share = (
        linked.groupBy("subj").count().orderBy(F.desc("count")).first()["count"] / n
    )
    assert hot_share > 0.2  # the distribution really is skewed
    g = materialize_graph(linked)
    a = sorted(tuple(r) for r in g.collect())
    assert a == _direct(linked)
    # the final adaptive plan, each node on a line above its first child
    plan = g._jdf.queryExecution().executedPlan().toString().splitlines()
    i = next(i for i, line in enumerate(plan)
             if "Exchange hashpartitioning(subj" in line and "doc_id" not in line)
    assert "Aggregate(" in plan[i + 1] and "partial_" in plan[i + 1], "\n".join(plan)


def _g(spark, edges):
    return spark.createDataFrame(
        [(a, "p", b, 1) for a, b in edges],
        "subj string, pred string, obj string, n_mentions long",
    )


def test_components_two_families(spark):
    from glirel_spark.operators.graph import components

    g = _g(spark, [("A", "B"), ("B", "C"), ("D", "E")])
    out = {r.entity: (r.component_id, r.component_size)
           for r in components(g).collect()}
    assert out == {
        "A": ("A", 3), "B": ("A", 3), "C": ("A", 3),
        "D": ("D", 2), "E": ("D", 2),
    }


def test_components_raises_on_nonconvergence(spark):
    import pytest

    from glirel_spark.operators.graph import components

    chain = _g(spark, [(f"N{i}", f"N{i+1}") for i in range(6)])
    with pytest.raises(RuntimeError, match="did not converge"):
        components(chain, max_iter=1)
    out = components(chain, max_iter=10).collect()
    assert {r.component_id for r in out} == {"N0"}


def test_kcore_peels_pendant(spark):
    from glirel_spark.operators.graph import kcore

    # triangle A-B-C with pendant D hanging off C: D peels, core stays
    g = _g(spark, [("A", "B"), ("B", "C"), ("C", "A"), ("C", "D")])
    out = {r.entity: r.core_degree for r in kcore(g, k=2).collect()}
    assert out == {"A": 2, "B": 2, "C": 2}


def test_kcore_chain_empties_and_converges(spark):
    import pytest

    from glirel_spark.operators.graph import kcore

    # path of 5: successive rounds peel the ends inward, core is empty
    path = _g(spark, [("A", "B"), ("B", "C"), ("C", "D"), ("D", "E")])
    assert kcore(path, k=2, max_iter=10).count() == 0
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(path, k=2, max_iter=2)


def test_pagerank_int_hand_computed(spark):
    from glirel_spark.operators.graph import pagerank_int

    # A -> B, B dangling; one iteration, hand-computed exact longs:
    #   dangling share = 1e9 // 2 = 500_000_000
    #   A: 150_000_000 + 85*(0 + 5e8)//100          = 575_000_000
    #   B: 150_000_000 + 85*(1e9 + 5e8)//100        = 1_425_000_000
    g = _g(spark, [("A", "B")])
    out = {r.entity: r.rank_scaled for r in pagerank_int(g, iters=1).collect()}
    assert out == {"A": 575_000_000, "B": 1_425_000_000}


def test_pagerank_int_partitioning_invariant(spark):
    """The selling point of the integer form: bit-identical results no
    matter how the input is partitioned (long addition is associative;
    float PageRank does not have this property)."""
    from glirel_spark.operators.graph import pagerank_int

    edges = [(f"E{i}", f"E{(i * 7 + 3) % 20}") for i in range(60)]
    g = _g(spark, [(a, b) for a, b in edges if a != b])
    a = sorted(map(tuple, pagerank_int(g, iters=4).collect()))
    b = sorted(map(tuple, pagerank_int(g.repartition(13), iters=4).collect()))
    assert a == b


def test_upsert_equals_full_rebuild(spark):
    from glirel_spark.operators.graph import materialize_graph, upsert_graph

    rows = []
    for i in range(400):
        rows.append((f"E{i % 13}", "p" if i % 3 else "q", f"E{(i * 5 + 1) % 13}",
                     str(i % 37), (i % 100) / 100.0))
    linked = spark.createDataFrame(
        rows, "subj string, pred string, obj string, doc_id string, prob double"
    )
    half_a = linked.filter(F.pmod(F.hash("doc_id"), F.lit(2)) == 0)
    half_b = linked.filter(F.pmod(F.hash("doc_id"), F.lit(2)) != 0)
    got = {tuple(r) for r in
           upsert_graph(materialize_graph(half_a), half_b).collect()}
    want = {tuple(r) for r in materialize_graph(linked).collect()}
    assert got == want and len(want) > 10


def test_upsert_new_and_old_keys(spark):
    from glirel_spark.operators.graph import materialize_graph, upsert_graph

    sch = "subj string, pred string, obj string, doc_id string, prob double"
    old = materialize_graph(spark.createDataFrame(
        [("A", "p", "B", "d0", 0.5), ("A", "p", "B", "d1", 0.9)], sch))
    new = spark.createDataFrame(
        [("A", "p", "B", "d2", 0.7),   # existing key: stats fold in
         ("X", "q", "Y", "d2", 0.3)],  # brand-new key: inherited
        sch)
    out = {(r.subj, r.pred, r.obj):
           (r.n_mentions, r.n_docs, r.max_prob, r.min_doc_id)
           for r in upsert_graph(old, new).collect()}
    assert out == {
        ("A", "p", "B"): (3, 3, 0.9, "d0"),
        ("X", "q", "Y"): (1, 1, 0.3, "d2"),
    }


def test_entity_neighbor_sim_jaccard_and_hub_removal(spark):
    from glirel_spark.operators.graph import entity_neighbor_sim

    sch = "subj string, pred string, obj string"
    # A and B share neighbors {n1, n2}; A also has n3, B also has n4.
    # HUB is connected to everything -> with hub_cap=3 it is removed
    # from all neighbor sets and contributes no candidate pairs.
    edges = [
        ("A", "p", "n1"), ("A", "p", "n2"), ("A", "p", "n3"),
        ("B", "p", "n1"), ("B", "p", "n2"), ("B", "p", "n4"),
    ]
    hub = [(e, "p", "HUB") for e in
           ["A", "B", "n1", "n2", "n3", "n4", "C", "D"]]
    g = spark.createDataFrame(edges + hub, sch)
    out = {(r.e1, r.e2): r for r in entity_neighbor_sim(g, hub_cap=3).collect()}

    # without the hub: A-B share {n1,n2}; capped degrees d(A)=d(B)=3
    ab = out[("A", "B")]
    assert (ab.shared, ab.d1, ab.d2) == (2, 3, 3)
    assert ab.jaccard == 2 / 4
    # HUB never acts as the shared-neighbor blocking key: a pair whose
    # only common neighbor is HUB (e.g. C-D) must not be generated.
    # HUB may still appear AS an entity scored over its own (non-hub)
    # neighbor set — stop-node removal caps fanout, it doesn't ban
    # hubs from being resolved.
    assert ("C", "D") not in out
    # HUB's capped set drops A and B too (their degree is 4 > cap):
    # {n1..n4, C, D} -> d=6, shared with A = {n1,n2,n3}
    a_hub = out[("A", "HUB")]
    assert (a_hub.shared, a_hub.d1, a_hub.d2) == (3, 3, 6)
    assert a_hub.jaccard == 3 / (3 + 6 - 3)

    # with a high cap the hub returns: every entity pair now shares HUB
    loose = {(r.e1, r.e2) for r in
             entity_neighbor_sim(g, hub_cap=100).collect()}
    assert ("C", "D") in loose


def _graph_df(spark, rows):
    # minimal materialized-graph shape: (subj, pred, obj) is all the
    # schema-induction ops read
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_pred_inverse_hand_computed(spark):
    from glirel_spark.operators.graph import pred_inverse

    g = _graph_df(spark, [
        ("a", "parent", "b"),
        ("b", "child", "a"),      # inverse pair with parent
        ("a", "knows", "b"),
        ("b", "knows", "a"),      # symmetric: counted from both sides
        ("c", "knows", "c"),      # self-loop: counted once
        ("c", "parent", "d"),     # no inverse
    ])
    got = {(r.p1, r.p2): r for r in pred_inverse(g).collect()}
    r = got[("child", "parent")]
    assert (r.n_inv, r.n_p1, r.n_p2) == (1, 1, 2)
    assert r.conf_1_to_2 == 1.0 and r.conf_2_to_1 == 0.5
    k = got[("knows", "knows")]
    # (a,b)+(b,a) pass subj<=obj once... both orientations: subj<=obj
    # keeps (a,b) only for the a/b pair, plus the (c,c) self-loop
    assert (k.n_inv, k.n_p1) == (2, 3)


def test_pred_functionality_hand_computed(spark):
    from glirel_spark.operators.graph import pred_functionality

    g = _graph_df(spark, [
        ("a", "born_in", "x"),
        ("b", "born_in", "x"),
        ("c", "born_in", "y"),
        ("a", "works_for", "x"),
        ("a", "works_for", "y"),
    ])
    got = {r.pred: r for r in pred_functionality(g).collect()}
    b = got["born_in"]
    assert (b.n_triples, b.n_subj, b.n_obj) == (3, 3, 2)
    assert b.functionality == 1.0 and b.inv_functionality == 2 / 3
    w = got["works_for"]
    assert (w.n_triples, w.n_subj, w.n_obj) == (2, 1, 2)
    assert w.functionality == 0.5 and w.inv_functionality == 1.0
