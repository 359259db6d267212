"""Sample-fit spherical k-means for the IVF ANN scale path.

The round-1 IVF index (`similarity.ivf_topk`) uses fixed sign-bit
hyperplane cells; real IVF trains centroids on the data (FAISS trains
its coarse quantizer on a sample, typically 30-256 vectors per
centroid). This module is that trained path:

- ``fit_centroids(sf_dir)``: deterministic hash-free sample (every
  ``stride``-th vec_id, sorted), then Lloyd's iterations on the unit
  sphere in pure numpy float64. It reads the parquet directly via
  pyarrow on the DRIVER — which is exactly how a 10^12-row cluster run
  fits its quantizer too: sample a few thousand vectors (one Spark
  job or a direct scan of one file), fit on the driver in
  milliseconds, broadcast the k x d centroid matrix as literals. The
  fit is shared, byte-for-byte, by the Spark plan and the DuckDB
  oracle (oracle_corpus.q_ann_topk_kmeans inlines the same repr()
  round-tripped doubles), so the index assignment is value-checkable.
- dot products inside the fit use a fixed-order einsum (no BLAS) so
  the centroid bits do not depend on thread count, mirroring
  model/scorer.py's kernel discipline.
- ``assign_cell_expr``: the corpus-side cell assignment as ONE column
  expression (argmax over k fold-dot scores, smallest index on ties)
  — no explode, no per-row Python, so the 10^12-row side stays a
  narrow projection inside whole-stage codegen.
- ``probe_cells_expr``: the query side explodes to its top-``n_probe``
  cells — queries are tiny, so the x P row blow-up is free, and
  multi-probe buys back the recall a single-cell probe loses.

Reference parity note: the reference has no ANN surface; this is a
beyond-reference training-data-pipeline operator (brief requirement),
designed per the IVF literature (Jegou et al., PQ/IVF) rather than any
reference file.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from glirel_spark import config
from glirel_spark.operators.similarity import (
    _dot,
    _norm,
    cell_topk,
    query_side,
    with_norm,
)


def _unit(v: np.ndarray) -> np.ndarray:
    n = np.sqrt(np.einsum("nd,nd->n", v, v))
    n[n == 0.0] = 1.0
    return v / n[:, None]


def unit_sample(sf_dir: str, sample_max: int) -> np.ndarray:
    """The fit sample shared by the k-means and PQ codebooks: at most
    ``sample_max`` embeddings, strided over the vec_id order (so the
    sample does not depend on parquet row order), unit-normalized,
    float64."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    vec_ids = np.asarray(t.column("vec_id"))
    order = np.argsort(vec_ids, kind="stable")
    emb = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)[order]
    stride = max(1, len(emb) // sample_max)
    return _unit(emb[::stride][:sample_max])


@lru_cache(maxsize=8)
def fit_centroids(
    sf_dir: str,
    n_cells: int = config.IVF_KM_CELLS,
    sample_max: int = config.IVF_KM_SAMPLE,
    iters: int = config.IVF_KM_ITERS,
) -> tuple[tuple[float, ...], ...]:
    """Deterministic spherical k-means centroids (unit-norm, float64).

    Returned as nested tuples so the lru_cache key/value is hashable
    and callers can't mutate the shared fit.
    """
    x = unit_sample(sf_dir, sample_max)

    # init: evenly spaced sample points (deterministic, spread)
    idx = (np.arange(n_cells) * len(x)) // n_cells
    cents = x[idx].copy()
    for _ in range(iters):
        # fixed-order einsum: bits independent of thread count
        scores = np.einsum("nd,kd->nk", x, cents, optimize=False)
        assign = np.argmax(scores, axis=1)  # first max on ties
        for j in range(n_cells):
            members = x[assign == j]
            if len(members):
                m = members.sum(axis=0)
                nrm = np.sqrt(np.einsum("d,d->", m, m))
                if nrm > 0.0:
                    cents[j] = m / nrm
    return tuple(tuple(float(v) for v in row) for row in cents)


def cell_scores(emb_col: Column, centroids) -> Column:
    """Array of fold-dot scores, one per centroid (centroids are
    unit-norm, so argmax dot == argmax cosine for a fixed vector).

    The k x d centroid matrix is ONE FLAT Literal (k*d doubles) sliced
    per centroid by index arithmetic inside the higher-order
    ``transform``; the dot itself appears once. The earlier forms — a
    flat list of k per-centroid dot expressions, then a nested
    array-of-arrays literal — both put Catalyst analysis/codegen of the
    literal matrix at ~10s of driver time for k=8, d=64; the flat
    encoding keeps one scalar-typed literal node. Fold order inside the
    dot is unchanged, so scores stay bit-identical."""
    k = len(centroids)
    d = len(centroids[0])
    flat = F.lit([float(v) for c in centroids for v in c])
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: _dot(emb_col, F.slice(flat, j * d + 1, d)),
    )


def probe_cells_expr(emb_col: Column, centroids, n_probe: int) -> Column:
    """Top-``n_probe`` cell ids by score (desc, cell asc on ties) as an
    array. Each centroid dot is evaluated exactly once (inside the
    struct array); array_sort orders structs lexicographically, so
    (neg_score asc, cell asc) == (score desc, cell asc) — the DuckDB
    oracle's ``ORDER BY s DESC, cell ASC`` row_number picks the same
    cells."""
    pairs = F.transform(
        cell_scores(emb_col, centroids),
        lambda s, i: F.struct((-s).alias("neg"), i.cast("int").alias("cell")),
    )
    top = F.slice(F.array_sort(pairs), 1, n_probe)
    return F.transform(top, lambda p: p["cell"])


def assign_cell_expr(emb_col: Column, centroids) -> Column:
    """argmax-score cell id (ties -> smallest index, matching the fit's
    ``np.argmax`` first-max rule) as one column expression."""
    return F.element_at(probe_cells_expr(emb_col, centroids, 1), 1)


def _with_cells(emb: DataFrame, centroids, corpus_probe: int) -> DataFrame:
    """Corpus + norm + cell: the assigned cell, or with
    ``corpus_probe=A>1`` one row per each of the vector's top-A cells."""
    if corpus_probe == 1:
        cell = assign_cell_expr(F.col("embedding"), centroids)
    else:
        cell = F.explode(probe_cells_expr(F.col("embedding"), centroids, corpus_probe))
    return with_norm(emb).withColumn("cell", cell)


def build_index(
    emb: DataFrame, centroids, path: str, corpus_probe: int = 1
) -> None:
    """Materialize the IVF index: corpus + norm + assigned cell, written
    partitioned BY CELL. This is the build-once pass (one map-only scan,
    no shuffle — partitionBy splits files locally); afterwards every
    search touches only its probed cells' files via partition pruning,
    which is how a 10^12-row corpus avoids re-scanning itself per query
    batch. ``corpus_probe=A>1`` writes each vector under its top-A cells
    (A x index size for the recall lift measured in test_kmeans_ivf) —
    search_index dedupes matches. On a cluster this table is the
    Iceberg index table."""
    base = _with_cells(emb, centroids, corpus_probe)
    base.write.partitionBy("cell").mode("overwrite").parquet(path)


def search_index(
    index: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = config.ANN_TOP_K,
    n_probe: int = config.IVF_KM_NPROBE,
) -> DataFrame:
    """Top-k over a prebuilt cell-partitioned index.

    ``queries`` is (q_id, q_emb); its probe cells join the index on the
    PARTITION column, so with the query side broadcast Spark inserts a
    dynamic-partition-pruning subquery on the index scan — only probed
    cells' files are read. Ranking semantics identical to
    ``kmeans_ivf_topk``; matches are always deduped, since the index
    may be multi-assigned.
    """
    q = queries.select(
        "q_id",
        "q_emb",
        _norm(F.col("q_emb")).alias("q_nrm"),
        F.explode(
            probe_cells_expr(F.col("q_emb"), centroids, n_probe)
        ).alias("cell"),
    )
    return cell_topk(index, q, k, dedup=True)


def kmeans_ivf_topk(
    emb: DataFrame,
    centroids,
    n_queries: int = config.ANN_N_QUERIES,
    k: int = config.ANN_TOP_K,
    n_probe: int = config.IVF_KM_NPROBE,
    corpus_probe: int = 1,
) -> DataFrame:
    """ANN top-k with a trained coarse quantizer and multi-probe.

    Corpus side: with ``corpus_probe=1`` ONE narrow projection adds the
    assigned cell (argmax over k fold-dots — whole-stage codegen, no
    explode, no Python), so at 10^12 rows the scan stays a single pass;
    in production the cell would be a persisted partition column so
    probes prune at the file level. ``corpus_probe=A>1`` indexes each
    vector under its top-A cells (the standard IVF replication trade:
    A x index size for recall that single-assignment can't reach —
    boundary vectors become visible from both neighboring cells); a
    neighbour can then match through several cells, so candidates are
    deduped on (q_id, n_id) before ranking. Query side: tiny, taken
    from the un-replicated corpus (one row per query), exploded to its
    top-``n_probe`` cells and broadcast — the candidate join is an equi
    hash join on cell, costing |Q| x n_probe x (A x N / n_cells)
    instead of |Q| x N.
    """
    base = _with_cells(emb, centroids, corpus_probe)
    q = query_side(
        with_norm(emb),
        n_queries,
        F.explode(
            probe_cells_expr(F.col("embedding"), centroids, n_probe)
        ).alias("cell"),
    )
    return cell_topk(base, q, k, dedup=corpus_probe > 1)
