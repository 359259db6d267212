"""Similarity search: brute-force exactness, IVF recall on
cell-coherent vectors, embedding near-dup blocking."""

from __future__ import annotations

import numpy as np

from glirel_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardups,
    ivf_topk,
)


def _emb(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_exact(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((30, 8)).astype(np.float32)
    df = _emb(spark, vecs)
    got = brute_force_topk(df, n_queries=3, k=2).collect()
    # numpy reference
    v = vecs.astype(np.float64)
    n = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = n @ n.T
    for q in range(3):
        order = [
            i for i in np.argsort(-sims[q], kind="stable") if i != q
        ][:2]
        mine = sorted(
            [(r.rk, r.n_id) for r in got if r.q_id == q]
        )
        assert [m[1] for m in mine] == [int(i) for i in order]


def test_ivf_full_recall_when_cells_align(spark):
    # vectors constructed so each query's true neighbours share its cell
    base = np.eye(8, dtype=np.float32)
    vecs = []
    for i in range(4):
        for j in range(5):
            v = base[i] + 0.01 * j * base[(i + 4) % 8]
            vecs.append(v)
    df = _emb(spark, vecs)
    bf = {(r.q_id, r.rk): r.n_id for r in brute_force_topk(df, 4, 3).collect()}
    ivf = {(r.q_id, r.rk): r.n_id for r in ivf_topk(df, 4, 3).collect()}
    assert bf == ivf  # same cell -> identical results


def test_embedding_neardups_blocked(spark):
    a = np.ones(8, dtype=np.float32)
    vecs = [a, a * 1.0001, -a]
    df = _emb(spark, vecs)
    out = {(r.v1, r.v2) for r in embedding_neardups(df, min_cosine=0.99).collect()}
    assert out == {(0, 1)}  # -a is in another cell AND anti-similar


def test_pq_recall_and_partitioning_invariance(spark):
    """PQ/ADC top-k: (a) recall vs the exact scan is far above chance
    on the sf0.001 embeddings; (b) results are identical under a
    different input partitioning (every fold has fixed order)."""
    from glirel_spark.operators.pq import fit_pq, pq_topk
    from glirel_spark.operators.similarity import brute_force_topk

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    books = fit_pq(sf)

    approx = pq_topk(emb, books).collect()
    exact = brute_force_topk(emb).collect()
    a = {(r.q_id, r.n_id) for r in approx}
    e = {(r.q_id, r.n_id) for r in exact}
    recall = len(a & e) / len(e)
    # 500 vectors, k=5: chance recall = 1%. Pure ADC measures 0.14 here
    # — the synthetic embeddings are near-uniform on the sphere (same
    # caveat as the IVF sweep, BENCH/BASELINE.md), so reconstruction
    # error swamps the tiny cosine gaps; the production path below
    # re-ranks a shortlist and recovers the recall.
    assert recall >= 0.08, recall
    assert len(a) == len(e)

    again = pq_topk(emb.repartition(7), books).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_pq_rerank_recall(spark):
    """ADC shortlist (R=50 of 500) + exact re-rank: recall jumps from
    ~0.14 (pure ADC) to >=0.6 — the standard two-stage PQ retrieval."""
    from glirel_spark.operators.pq import fit_pq, pq_topk_rerank
    from glirel_spark.operators.similarity import brute_force_topk

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    a = {(r.q_id, r.n_id) for r in pq_topk_rerank(emb, fit_pq(sf)).collect()}
    e = {(r.q_id, r.n_id) for r in brute_force_topk(emb).collect()}
    assert len(a & e) / len(e) >= 0.6  # measured 0.74


def test_ivfpq_recall(spark):
    """The composed index (cell probe -> ADC -> re-rank) must hold the
    rerank path's recall — the cell probe only removes candidates the
    multi-probe sweep deemed unlikely (n_probe=6 of 16 cells)."""
    from glirel_spark.operators.kmeans import fit_centroids
    from glirel_spark.operators.pq import fit_pq, ivfpq_topk
    from glirel_spark.operators.similarity import brute_force_topk

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    a = {(r.q_id, r.n_id) for r in
         ivfpq_topk(emb, fit_centroids(sf), fit_pq(sf)).collect()}
    e = {(r.q_id, r.n_id) for r in brute_force_topk(emb).collect()}
    assert len(a & e) / len(e) >= 0.5


def test_semantic_dedup_drops_lowest_id_keeps_rep(spark):
    from glirel_spark.operators.similarity import semantic_dedup

    # two orthogonal cells; vectors 0,1,2 near +x (pairwise cos ~1),
    # vectors 3,4 near +y but mutually dissimilar enough at the 0.9
    # threshold; vector 5 alone near -x cell boundary
    vecs = [
        [1.0, 0.0], [0.999, 0.045], [0.998, 0.063],   # cluster: keep 0 only
        [0.0, 1.0], [0.60, 0.80],                      # cos=0.8 < 0.9: both kept
        [-1.0, 0.05],
    ]
    df = _emb(spark, vecs)
    cents = ((1.0, 0.0), (0.0, 1.0), (-1.0, 0.0))
    got = {r.vec_id: (r.cell, r.is_kept)
           for r in semantic_dedup(df, cents, min_cosine=0.9).collect()}
    assert got[0] == (0, True)
    assert got[1][1] is False and got[2][1] is False
    assert got[3] == (1, True) and got[4][1] is True
    assert got[5] == (2, True)
    assert len(got) == 6  # one row per input vector


def test_embedding_neardups_matches_oracle_where_pairs_survive(spark):
    """The declared ``embedding_neardups`` query keeps no pair of the
    synthetic embeddings at its default min_cosine (0.98), so its oracle
    check compares two empty frames. At 0.3, 138 same-cell pairs of the
    sf0.001 embeddings survive (cosines reach 0.48 there); the fold, the
    cell blocking and the lower-id-first order must give the DuckDB
    oracle's rows, value for value."""
    import sys
    from pathlib import Path

    import duckdb

    from glirel_spark import oracle_corpus
    from glirel_spark.sources import tables

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from check_oracle import norm_hash

    emb_path = Path(tables.DEFAULT_SF_DIR).parent / "sf0.001" / "embeddings.parquet"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{emb_path}')")
    want = con.execute(oracle_corpus.q_embedding_neardups(min_cosine=0.3)).fetchdf()
    got = embedding_neardups(
        spark.read.parquet(str(emb_path)), min_cosine=0.3
    ).toPandas()
    assert len(got) == len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    assert norm_hash(got) == norm_hash(want)
