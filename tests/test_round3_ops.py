"""Unit coverage for the round-3 KG + corpus operators on synthetic
frames where the interesting behavior actually occurs (the sandbox
corpus vocabulary is closed and typo-free, so e.g. er_edit_pairs is
exercised here with real near-duplicates even though the corpus-level
oracle answer is legitimately empty).
"""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from glirel_spark.operators.graph import (
    kg_adjacency,
    kg_fusion,
    kg_link_pred,
    kg_negative_samples,
)
from glirel_spark.operators.linking import er_edit_pairs
from glirel_spark.operators.textstats import inverted_index, ngram_lm


def _graph(spark, rows):
    return spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o, n_mentions=n) for s, p, o, n in rows]
    )


def test_kg_fusion_majority_and_tiebreak(spark):
    g = _graph(
        spark,
        [
            ("e1", "ceo", "alice", 5),
            ("e1", "ceo", "bob", 2),
            ("e2", "hq", "paris", 3),
            ("e2", "hq", "berlin", 3),  # tie -> lexicographically smaller
        ],
    )
    out = {(r.subj, r.pred): r for r in kg_fusion(g).collect()}
    assert out[("e1", "ceo")].obj == "alice"
    assert out[("e1", "ceo")].n_support == 5
    assert out[("e1", "ceo")].n_total == 7
    assert out[("e1", "ceo")].support_share == 5.0 / 7.0
    assert out[("e2", "hq")].obj == "berlin"
    assert out[("e2", "hq")].n_objects == 2


def test_kg_adjacency_sorted_postings(spark):
    g = _graph(
        spark,
        [("a", "p2", "y", 1), ("a", "p1", "x", 2), ("b", "p1", "a", 1)],
    )
    rows = {r.subj: r for r in kg_adjacency(g).collect()}
    assert rows["a"].adjacency == "p1|x,p2|y"
    assert rows["a"].out_degree == 2 and rows["a"].n_mentions == 3
    assert rows["b"].adjacency == "p1|a"


def test_kg_negative_samples_deterministic_and_flagged(spark):
    g = _graph(
        spark,
        [
            ("a", "p", "b", 1),
            ("a", "p", "c", 1),
            ("b", "p", "c", 1),
            ("c", "q", "a", 1),
        ],
    )
    out1 = sorted(map(tuple, kg_negative_samples(g).collect()))
    out2 = sorted(map(tuple, kg_negative_samples(g).collect()))
    assert out1 == out2  # no RNG, partition-order-free
    assert len(out1) == 4
    true_edges = {("a", "p", "b"), ("a", "p", "c"), ("b", "p", "c"), ("c", "q", "a")}
    for subj, pred, obj, neg, clean in out1:
        assert clean == ((subj, pred, neg) not in true_edges)


def test_kg_link_pred_common_neighbors(spark):
    # star: hub h adjacent to a,b,c (pairwise non-adjacent; CN=1 via h)
    # plus edge a-b making (a,b) adjacent -> excluded
    g = _graph(
        spark,
        [
            ("h", "p", "a", 1),
            ("h", "p", "b", 1),
            ("h", "p", "c", 1),
            ("a", "p", "b", 1),
        ],
    )
    out = {(r.a, r.b): r.common_neighbors for r in kg_link_pred(g).collect()}
    assert ("a", "b") not in out  # adjacent pair excluded
    assert out[("a", "c")] == 1 and out[("b", "c")] == 1
    # a,b share neighbor h AND each other -> but pair excluded anyway


def test_er_edit_pairs_blocking_and_distance(spark):
    ments = spark.createDataFrame(
        [
            Row(doc_id="1", text="Google"),
            Row(doc_id="2", text="Googel"),   # dist 2 (transposition = 2 ops)
            Row(doc_id="3", text="googl"),    # dist 1 from google
            Row(doc_id="4", text="Amazon"),
            Row(doc_id="5", text="amazonia"), # dist 2 but len diff 2 -> kept
            Row(doc_id="6", text="zzz"),
        ]
    )
    out = {(r.e1, r.e2): r.dist for r in er_edit_pairs(ments).collect()}
    assert out[("googel", "google")] == 2
    assert out[("googl", "google")] == 1
    assert out[("amazon", "amazonia")] == 2
    assert all(d <= 2 for d in out.values())
    assert not any("zzz" in k for k in out)


def test_inverted_index_shards_and_postings(spark):
    dt = spark.createDataFrame(
        [
            Row(doc_id="1", tokens=["x", "y", "x"]),
            Row(doc_id="9", tokens=["x"]),
            Row(doc_id="10", tokens=["y"]),
        ]
    )
    rows = {(r.token, r.shard): r for r in inverted_index(dt, n_shards=8).collect()}
    assert rows[("x", 1)].df == 2 and rows[("x", 1)].tf == 3  # docs 1 and 9
    assert rows[("x", 1)].postings == "1,9"
    assert rows[("y", 1)].postings == "1"
    assert rows[("y", 2)].postings == "10"  # 10 % 8 = 2


def test_ngram_lm_exact_conditionals(spark):
    dt = spark.createDataFrame(
        [
            Row(doc_id="1", tokens=["a", "b", "a", "b", "a", "c"]),
            Row(doc_id="2", tokens=["a", "b"]),
            Row(doc_id="3", tokens=["solo"]),  # no bigrams
        ]
    )
    out = {(r.w1, r.w2): r for r in ngram_lm(dt, min_count=1).collect()}
    # bigrams: (a,b)x3 (b,a)x2 (a,c)x1 -> n1(a)=4, n1(b)=2
    assert out[("a", "b")].n12 == 3 and out[("a", "b")].n1 == 4
    assert out[("a", "b")].cond_p == 3.0 / 4.0
    assert out[("b", "a")].cond_p == 1.0
    assert out[("a", "c")].cond_p == 1.0 / 4.0
    assert ("solo", "solo") not in out
    # min_count filters output but NOT the marginal
    filtered = {
        (r.w1, r.w2): r for r in ngram_lm(dt, min_count=2).collect()
    }
    assert ("a", "c") not in filtered
    assert filtered[("a", "b")].n1 == 4


def test_kg_bfs_distances_and_guard(spark):
    import pytest

    # path graph a->b->c->d (plus seed = min entity 'a')
    g = _graph(
        spark,
        [("a", "p", "b", 1), ("b", "p", "c", 1), ("c", "p", "d", 1)],
    )
    from glirel_spark.operators.graph import kg_bfs

    out = {r.entity: r.dist for r in kg_bfs(g).collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3}
    with pytest.raises(RuntimeError, match="frontier still live"):
        kg_bfs(g, max_iter=2)


def test_kg_degree_dist(spark):
    from glirel_spark.operators.graph import kg_degree_dist

    # star: h has degree 3; a,b,c degree 1
    g = _graph(
        spark,
        [("h", "p", "a", 1), ("h", "p", "b", 1), ("h", "q", "c", 1)],
    )
    out = {r.degree: r.n_entities for r in kg_degree_dist(g).collect()}
    assert out == {3: 1, 1: 3}


def test_entity_types_shares(spark):
    from glirel_spark.config import ALIAS_DICT
    from glirel_spark.operators.linking import entity_types

    ments = spark.createDataFrame(
        [
            Row(doc_id="1", text="spark", type="TECH"),
            Row(doc_id="2", text="Spark", type="TECH"),
            Row(doc_id="3", text="spark", type="ORG"),   # conflicting vote
            Row(doc_id="4", text="zzz-unknown", type="MISC"),
        ]
    )
    out = {(r.entity, r.type): r for r in entity_types(ments, ALIAS_DICT).collect()}
    ent = [k[0] for k in out if k[1] == "MISC"][0]
    assert ent == "Q:surface:zzz-unknown"  # surface fallback
    tech = [v for (e, t), v in out.items() if t == "TECH"][0]
    assert tech.n == 2 and tech.n_entity == 3 and tech.share == 2.0 / 3.0


def test_ngram_lm_conditionals_sum_to_one_per_context(spark):
    """Property: with min_count=1, sum of cond_p over w2 for a fixed w1
    equals 1 exactly in exact-rational terms (sum n12 == n1); checked
    on integer counts to avoid float-order effects."""
    from glirel_spark.plans.pipeline import docs_tokens

    dt = docs_tokens(spark, "/root/testdata/sf0.001")
    out = ngram_lm(dt, min_count=1)
    bad = (
        out.groupBy("w1", "n1")
        .agg(F.sum("n12").alias("s"))
        .filter(F.col("s") != F.col("n1"))
        .count()
    )
    assert bad == 0


def test_inverted_index_df_equals_postings_length(spark):
    """Property: df == number of entries in the postings string."""
    from glirel_spark.plans.pipeline import docs_tokens
    from glirel_spark.operators.textstats import inverted_index as inv

    out = inv(docs_tokens(spark, "/root/testdata/sf0.001"))
    bad = out.filter(
        F.size(F.split("postings", ",")) != F.col("df")
    ).count()
    assert bad == 0


def test_kg_fusion_share_bounds_on_corpus(spark):
    """Property: 0 < support_share <= 1 and n_support <= n_total on the
    real corpus graph."""
    from glirel_spark.plans import pipeline

    out = pipeline.kg_fusion(spark, "/root/testdata/sf0.001")
    bad = out.filter(
        (F.col("support_share") <= 0)
        | (F.col("support_share") > 1)
        | (F.col("n_support") > F.col("n_total"))
    ).count()
    assert bad == 0


def test_inverted_index_rejects_noninteger_doc_ids(spark):
    """Same integer-id contract guard as decontaminate (ADVICE r2
    pattern): content-addressed ids must raise, never lump postings
    under a NULL shard."""
    import pytest

    dt = spark.createDataFrame(
        [Row(doc_id="sha1:a1b2", tokens=["x", "y"])]
    )
    with pytest.raises(
        Exception, match="doc_id must cast to long|cannot be cast"
    ):
        inverted_index(dt).collect()
