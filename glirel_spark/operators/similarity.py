"""Similarity search over embedding columns (array<float>), and the
search kernels the trained-IVF (``kmeans.py``) and product-quantization
(``pq.py``) paths share.

- ``brute_force_topk``: exact cosine top-k of every query against the
  corpus — the correctness baseline.
- ``ivf_topk``: the scale path — IVF-style coarse quantization. Cell
  centroids here are deterministic hash cells (argmax-dim sign pattern);
  at 10^12 rows the same plan holds with k-means centroids: probe only
  matching cells, so the candidate join is |Q| x (N / n_cells), not
  |Q| x N. Exactness is traded for the probe ratio, like any ANN.

Shared kernels, one definition each:

- ``_dot`` / ``_norm``: JVM-side folds (cast to double, multiply, then a
  left-fold ``aggregate`` from 0.0). The summation order is fixed, so
  every cosine is bit-identical to the DuckDB oracle's list_reduce.
- ``query_side``: the first ``n_queries`` vec_ids as (q_id, q_emb, q_nrm).
- ``topk_per_query``: row_number over (score desc, n_id asc), rk <= k.
- ``cell_topk``: probed-cell candidates -> exact-cosine top-k.
- ``rerank_exact``: a (q_id, n_id) shortlist -> raw-vector fetch by id
  -> exact-cosine top-k.

Everything is expressed as joins + window top-k; no UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, Window as W

from glirel_spark import config


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def with_norm(emb: DataFrame) -> DataFrame:
    return emb.withColumn("nrm", _norm(F.col("embedding")))


def query_side(base: DataFrame, n_queries: int, *extra: Column) -> DataFrame:
    """The first ``n_queries`` vec_ids of ``base`` (vec_id, embedding,
    nrm) as (q_id, q_emb, q_nrm, *extra)."""
    return base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        *extra,
    )


def _cosine_scores(pairs: DataFrame) -> DataFrame:
    """(q_id, n_id, cosine) of query x corpus pairs carrying (q_id,
    q_emb, q_nrm) and (vec_id, embedding, nrm)."""
    cos = _dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    return pairs.select("q_id", F.col("vec_id").alias("n_id"), cos.alias("cosine"))


def topk_per_query(scored: DataFrame, score: str, k: int) -> DataFrame:
    """The ``k`` best n_ids of each q_id by ``score``; ties broken by
    neighbour id (deterministic)."""
    w = W.partitionBy("q_id").orderBy(F.desc(score), F.asc("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", score, F.col("rk").cast("int").alias("rk"))
    )


def cell_topk(
    corpus: DataFrame, q: DataFrame, k: int, dedup: bool = False
) -> DataFrame:
    """Exact-cosine top-k over the corpus rows sharing a ``cell`` with
    the (broadcast) query side. ``dedup`` drops the repeats of a
    neighbour that matches through several cells."""
    pairs = corpus.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = _cosine_scores(pairs)
    if dedup:
        scored = scored.dropDuplicates(["q_id", "n_id"])
    return topk_per_query(scored, "cosine", k)


def rerank_exact(
    shortlist: DataFrame, emb: DataFrame, n_queries: int, k: int
) -> DataFrame:
    """Re-rank a (q_id, n_id) shortlist by exact cosine: only the listed
    neighbours' raw vectors are fetched (an id-keyed join back to the
    vector table), never the whole corpus."""
    base = with_norm(emb).select("vec_id", "embedding", "nrm")
    fetched = (
        shortlist.withColumnRenamed("n_id", "vec_id")
        .join(base, "vec_id")
        .join(F.broadcast(query_side(base, n_queries)), "q_id")
    )
    return topk_per_query(_cosine_scores(fetched), "cosine", k)


def brute_force_topk(
    emb: DataFrame,
    n_queries: int = config.ANN_N_QUERIES,
    k: int = config.ANN_TOP_K,
) -> DataFrame:
    """Exact top-k neighbours (cosine) for the first n_queries vec_ids.

    The query side is tiny -> broadcast; the corpus scans once.
    """
    base = with_norm(emb).select("vec_id", "embedding", "nrm")
    q = query_side(base, n_queries)
    pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    return topk_per_query(_cosine_scores(pairs), "cosine", k)


def cell_of(emb_col: Column, n_cells: int = config.IVF_N_CELLS) -> Column:
    """Deterministic coarse cell: sign bits of the first log2(n_cells)
    dimensions (a fixed LSH hyperplane family aligned with the axes)."""
    bits = n_cells.bit_length() - 1
    cell = F.lit(0)
    for i in range(bits):
        cell = cell + F.when(emb_col[i] > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return cell


def ivf_topk(
    emb: DataFrame,
    n_queries: int = config.ANN_N_QUERIES,
    k: int = config.ANN_TOP_K,
    n_cells: int = config.IVF_N_CELLS,
) -> DataFrame:
    """ANN top-k probing only the query's coarse cell.

    Recall < 1 by construction; at scale the join cost drops by the
    probe ratio. Cell key join is an equi hash join on a near-uniform
    key (sign pattern), shuffle-partitioned by cell.
    """
    base = with_norm(emb).withColumn("cell", cell_of(F.col("embedding"), n_cells))
    return cell_topk(base, query_side(base, n_queries, F.col("cell")), k)


def _cell_neighbours(base: DataFrame) -> DataFrame:
    """Blocked self-join: every pair of vectors sharing a ``cell``,
    lower id first, as (q_id, n_id, cosine)."""
    a = base.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "cell",
    )
    return _cosine_scores(
        a.join(base, "cell").filter(F.col("q_id") < F.col("vec_id"))
    )


def semantic_dedup(
    emb: DataFrame,
    centroids,
    min_cosine: float = config.SEMDEDUP_MIN_COSINE,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning,
    blocked by TRAINED k-means cell instead of the sign-pattern cells
    ``embedding_neardups`` uses.

    A vector is dropped when a lower-id vector in the SAME cell has
    cosine >= ``min_cosine`` (lowest id is the deterministic cluster
    representative). Output: one row per vector, ``(vec_id, cell,
    is_kept)``.

    Scale shape — the published SemDeDup cost model: the quadratic
    pairwise scan runs per cell only, so cells sized ~1e4-1e5 vectors
    (k grows with N) keep each block in one task; the cell key is the
    shuffle key, a skewed cell is AQE-splittable, and the corpus is
    touched exactly twice (assign scan + blocked self-join). Cell
    assignment is the same single codegen expression the trained-IVF
    path uses (kmeans.assign_cell_expr).
    """
    from glirel_spark.operators.kmeans import assign_cell_expr

    base = with_norm(emb).withColumn(
        "cell", assign_cell_expr(F.col("embedding"), centroids).cast("int")
    )
    dropped = (
        _cell_neighbours(base)
        .filter(F.col("cosine") >= F.lit(min_cosine))
        .select(F.col("n_id").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return base.select("vec_id", "cell").join(dropped, "vec_id", "left").select(
        "vec_id", "cell", F.col("_dropped").isNull().alias("is_kept")
    )


def embedding_neardups(emb: DataFrame, min_cosine: float = 0.98,
                       n_cells: int = config.IVF_N_CELLS) -> DataFrame:
    """Near-duplicate detection by embedding cosine, blocked by coarse
    cell (near-identical vectors share sign patterns)."""
    base = with_norm(emb).withColumn("cell", cell_of(F.col("embedding"), n_cells))
    return (
        _cell_neighbours(base)
        .filter(F.col("cosine") >= min_cosine)
        .select(F.col("q_id").alias("v1"), F.col("n_id").alias("v2"), "cosine")
    )
