"""Product quantization (PQ) for compressed-domain ANN scanning —
the pairing FAISS ships as IVF-PQ (Jegou et al., "Product Quantization
for Nearest Neighbor Search").

Why it matters at 10^12 vectors: the exact scan reads 64 float64s per
row; PQ reads ONE long (8 x 4-bit codes packed here as 8 small ints)
plus a per-query lookup table, a 16-64x scan-bandwidth reduction, and
the score arithmetic drops from a 64-wide dot product to m=8 table
lookups + adds. The corpus-side encoding is a pure column expression
(whole-stage codegen, no UDF, no explode); the query-side LUT is an
array column on a broadcast few-row relation.

Determinism discipline (same as kmeans.py): the codebooks are fit
driver-side on a deterministic sample with fixed-order numpy einsum,
shared byte-for-byte with the DuckDB oracle via repr round-trip;
every fold (L2 distances, LUT dots, the m-term ADC sum) has a fixed
evaluation order, so the approximate scores themselves are
bit-identical across engines — the oracle checks the SCORES, not just
the ranking.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import Column, functions as F

from glirel_spark import config
from glirel_spark.operators.kmeans import unit_sample
from glirel_spark.operators.similarity import (
    _dot,
    _norm,
    rerank_exact,
    topk_per_query,
)


@lru_cache(maxsize=8)
def fit_pq(
    sf_dir: str,
    m: int = config.PQ_M,
    ks: int = config.PQ_KS,
    sample_max: int = config.IVF_KM_SAMPLE,
    iters: int = config.PQ_ITERS,
) -> tuple:
    """Per-subspace L2 k-means codebooks over UNIT-NORMALIZED vectors
    (so the asymmetric inner-product score approximates cosine).
    Returns tuple[m][ks][d//m] of floats."""
    x = unit_sample(sf_dir, sample_max)
    d = x.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    ds = d // m

    books = []
    for j in range(m):
        sub = x[:, j * ds: (j + 1) * ds]
        idx = (np.arange(ks) * len(sub)) // ks
        cents = sub[idx].copy()
        for _ in range(iters):
            # squared L2 via fixed-order expansion (no BLAS)
            d2 = (
                np.einsum("nd,nd->n", sub, sub, optimize=False)[:, None]
                - 2.0 * np.einsum("nd,kd->nk", sub, cents, optimize=False)
                + np.einsum("kd,kd->k", cents, cents, optimize=False)[None, :]
            )
            assign = np.argmin(d2, axis=1)  # first min on ties
            for c in range(ks):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(tuple(tuple(float(v) for v in row) for row in cents))
    return tuple(books)


def with_normalized(emb, col_name: str = "_ne"):
    """emb + a MATERIALIZED unit-normalized embedding column.

    Round-6 fix: the normalized embedding is a composite expression —
    the norm fold nested inside a per-element transform — and Catalyst
    inlines alias references, so every downstream reference (``encode_expr``
    slices it m*ks times per row) re-evaluated the full normalize, and
    the norm itself re-folded per ELEMENT: O(m*ks*d^2) interpreted work
    per corpus row, measured at ~104s per PQ query at sf0.1. The two
    ``materialized`` barriers (norm scalar, then the normalized array)
    pin both to one evaluation per row — the same fence
    with_shingle_array/with_mentions use. Values are bit-identical
    (same expressions, evaluated once)."""
    from glirel_spark.functions.barrier import materialized

    df = emb.withColumn("_pqnrm", materialized(_norm(F.col("embedding"))))
    ne = F.transform(
        F.col("embedding"), lambda x: x.cast("double") / F.col("_pqnrm")
    )
    return df.withColumn(col_name, materialized(ne)).drop("_pqnrm")


def _l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _flat(books) -> Column:
    return F.lit([float(v) for book in books for row in book for v in row])


def encode_expr(ne: Column, books) -> Column:
    """PQ codes as ONE column expression over a PRE-NORMALIZED (and
    materialized — see with_normalized) embedding column: array of m
    ints, code j = argmin-L2 codebook entry for subspace j (ties ->
    smallest code, matching np.argmin). Flat-literal codebook + index
    arithmetic, per the kmeans.cell_scores codegen lesson."""
    m, ks, ds = len(books), len(books[0]), len(books[0][0])
    flat = _flat(books)
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.element_at(
            F.slice(
                F.array_sort(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(ks - 1)),
                        lambda c: F.struct(
                            _l2(
                                F.slice(ne, j * ds + 1, ds),
                                F.slice(flat, (j * ks + c) * ds + 1, ds),
                            ).alias("d"),
                            c.cast("int").alias("c"),
                        ),
                    )
                ),
                1, 1,
            ),
            1,
        )["c"],
    )


def lut_expr(qn: Column, books) -> Column:
    """Per-query ADC lookup table over a PRE-NORMALIZED (materialized)
    embedding column: m*ks inner products of the normalized query
    subvector against every codebook entry, flattened in (j, c) order
    so score lookup is lut[j*ks + code + 1]."""
    m, ks, ds = len(books), len(books[0]), len(books[0][0])
    flat = _flat(books)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.transform(
                F.sequence(F.lit(0), F.lit(ks - 1)),
                lambda c: _dot(
                    F.slice(qn, j * ds + 1, ds),
                    F.slice(flat, (j * ks + c) * ds + 1, ds),
                ),
            ),
        )
    )


def _codes(emb, books, *extra: Column):
    """The compressed corpus: (vec_id, *extra, codes)."""
    return with_normalized(emb).select(
        "vec_id", *extra, encode_expr(F.col("_ne"), books).alias("codes")
    )


def _luts(emb, books, n_queries: int, *extra: Column):
    """The query side: (q_id, *extra, lut) of the first ``n_queries``
    vec_ids."""
    return with_normalized(emb.filter(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("q_id"),
        *extra,
        lut_expr(F.col("_ne"), books).alias("lut"),
    )


def _adc_topk(pairs, books, k: int):
    """Top-k by ADC score over (vec_id, codes) x (q_id, lut) pairs: m
    lookups folded in fixed j-order from 0.0 (bit-exact vs the oracle's
    ORDER BY j list_reduce). Rank by (pq_score desc, n_id asc)."""
    m, ks = len(books), len(books[0])
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.col("lut"), j * ks + F.element_at(F.col("codes"), j + 1) + 1),
    )
    scored = pairs.select(
        "q_id", F.col("vec_id").alias("n_id"), score.alias("pq_score")
    )
    return topk_per_query(scored, "pq_score", k)


def pq_topk(
    emb,
    books,
    n_queries: int = config.ANN_N_QUERIES,
    k: int = config.ANN_TOP_K,
):
    """ADC top-k over the PQ-compressed corpus: corpus rows carry ONLY
    (vec_id, codes); each query broadcasts its LUT."""
    pairs = _codes(emb, books).join(
        F.broadcast(_luts(emb, books, n_queries)),
        F.col("vec_id") != F.col("q_id"),
    )
    return _adc_topk(pairs, books, k)


def pq_topk_rerank(
    emb,
    books,
    n_queries: int = config.ANN_N_QUERIES,
    k: int = config.ANN_TOP_K,
    shortlist: int = 50,
):
    """The production PQ pattern: the compressed-domain ADC scan
    produces a SHORTLIST (top-``shortlist`` by pq_score), then only
    those candidates' raw vectors are fetched — an id-keyed join back
    to the vector table, ``shortlist x n_queries`` rows, not the
    corpus — and re-ranked by exact cosine. Reads: corpus-wide codes
    scan + R-row vector fetch per query; the 64-float corpus scan never
    happens. Recall is set by P(true neighbour in the shortlist), which
    the R/k ratio controls. Output matches ann_topk (q_id, n_id,
    cosine, rk) — same schema, cheaper plan, approximate shortlist."""
    short = pq_topk(emb, books, n_queries, shortlist).select("q_id", "n_id")
    return rerank_exact(short, emb, n_queries, k)


def ivfpq_topk(
    emb,
    cents,
    books,
    n_probe: int = config.IVF_KM_NPROBE,
    n_queries: int = config.ANN_N_QUERIES,
    k: int = config.ANN_TOP_K,
    shortlist: int = 50,
):
    """IVF-PQ: the full FAISS-style index as one Spark plan. The corpus
    carries (cell, codes) — coarse trained-k-means cell + PQ codes,
    both single codegen expressions; a query probes its top-``n_probe``
    cells (exploded, tiny side, broadcast), candidates come from a cell
    EQUI-join (never the full corpus), ADC-scores them in the
    compressed domain, and the top-``shortlist`` get the exact-cosine
    re-rank. At 10^12 vectors this is the only shape that works: the
    scan is code-bytes not floats, the join is cell-pruned, and raw
    vectors are touched for shortlist x queries rows only. Every stage
    reuses the hash-gated building blocks (kmeans.assign_cell_expr /
    probe_cells_expr, encode_expr, lut_expr, similarity.rerank_exact),
    so the composition is value-checkable end-to-end."""
    from glirel_spark.operators.kmeans import assign_cell_expr, probe_cells_expr

    corpus = _codes(
        emb, books, assign_cell_expr(F.col("embedding"), cents).alias("cell")
    )
    qside = _luts(
        emb,
        books,
        n_queries,
        F.explode(probe_cells_expr(F.col("embedding"), cents, n_probe)).alias("cell"),
    )
    pairs = corpus.join(
        F.broadcast(qside),
        (corpus["cell"] == qside["cell"]) & (F.col("vec_id") != F.col("q_id")),
    )
    short = _adc_topk(pairs, books, shortlist).select("q_id", "n_id")
    return rerank_exact(short, emb, n_queries, k)
