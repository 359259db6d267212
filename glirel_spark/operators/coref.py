"""Coreference clustering + cluster-level relation aggregation.

Reference semantics (glirel/modules/utils.py:86-218):

- clusters = connected components over mention positions linked by
  SELF-labeled relations (union-find, utils.py:111-137)
- clusters sorted by earliest mention start -> cluster index
  (utils.py:139-148)                                            [W6]
- cluster-level triples: map endpoints to cluster idx, drop SELF,
  dedup (h_idx, t_idx, r), sort (utils.py:155-218)              [A8]

Our coref edge rule (deterministic test double of the SELF scorer):
same mention text AND |h_start - t_start| <= COREF_MAX_DIST — a
non-transitive relation, so clusters genuinely need transitive closure
(chains of windowed same-text mentions).

Two implementations with identical results (tested equal):

- ``cluster_mentions``: per-doc union-find in a cogrouped
  ``applyInPandas`` (docs are small; state never leaves the executor),
  the general-graph reference for edge relations that arrive as
  separate tables
- ``cluster_ments_fused``: edges + union-find + cluster ordering in one
  zero-shuffle ``mapInPandas`` stage over per-doc mention arrays — the
  plan the pipeline runs
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, Window as W

COREF_MAX_DIST = 12

_CLUSTER_SCHEMA = "doc_id string, m_id int, root int"


def coref_edges(mentions: DataFrame, max_dist: int = COREF_MAX_DIST) -> DataFrame:
    """(doc_id, a, b) undirected edges, a < b by m_id."""
    h = mentions.select("doc_id", F.col("m_id").alias("a"),
                        F.col("start").alias("sa"), F.col("text").alias("ta"))
    t = mentions.select("doc_id", F.col("m_id").alias("b"),
                        F.col("start").alias("sb"), F.col("text").alias("tb"))
    return (
        h.join(t, "doc_id")
        .filter(
            (F.col("a") < F.col("b"))
            & (F.col("ta") == F.col("tb"))
            & (F.abs(F.col("sa") - F.col("sb")) <= max_dist)
        )
        .select("doc_id", "a", "b")
    )


def cluster_mentions(mentions: DataFrame, edges: DataFrame) -> DataFrame:
    """Union-find per document (utils.py:111-137) via cogrouped
    applyInPandas. Returns (doc_id, m_id, root) with root = min m_id of
    the component."""

    def uf(key, mdf: pd.DataFrame, edf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {int(m): int(m) for m in mdf["m_id"]}

        def find(u: int) -> int:
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        for a, b in zip(edf["a"], edf["b"]):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                # deterministic: smaller id becomes the root
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        return pd.DataFrame(
            {
                "doc_id": key[0],
                "m_id": list(parent.keys()),
                "root": [find(m) for m in parent.keys()],
            }
        )

    # toDF re-projects the edge columns so the cogroup of two frames that
    # share lineage (edges derive from mentions) is not flagged as an
    # ambiguous self-join; in production the two inputs are separate tables.
    e = edges.select("doc_id", "a", "b").toDF("doc_id", "a", "b")
    return (
        mentions.select("doc_id", "m_id")
        .groupBy("doc_id")
        .cogroup(e.groupBy("doc_id"))
        .applyInPandas(uf, _CLUSTER_SCHEMA)
    )


_CLUSTERED_SCHEMA = (
    "doc_id string, m_id int, start int, end int, type string, text string, "
    "cluster_idx int"
)


def cluster_ments_fused(
    docs_ments: DataFrame,
    max_dist: int = COREF_MAX_DIST,
    ments_col: str = "_ments",
) -> DataFrame:
    """Fused coref: edges + union-find (reference semantics
    glirel/modules/utils.py:86-153) + W6 cluster ordering
    (utils.py:139-148) as ONE zero-shuffle mapInPandas stage over
    per-doc mention arrays (the cached gazetteer pass,
    fused.with_mentions).

    Row-identical to cluster_index(cluster_mentions(...)) — tested — by
    this argument: the coref edge rule (same text, |Δstart| <= d) is an
    interval graph on a line per (doc, text) group, so its connected
    components are exactly the maximal runs of start-sorted mentions
    whose consecutive gaps are <= d (any pair straddling a gap > d is
    itself > d apart). No per-pair edge materialization, no cogroup, no
    iteration: one lexsort + run-break cumsum over the whole Arrow
    batch, vectorized numpy end-to-end (no per-doc Python loop).

    At 10^12 docs this is the plan you want: clustering state never
    leaves the row's partition; the general-graph union-find
    (cluster_mentions) remains for edge relations that arrive as
    separate tables.
    """
    import numpy as np

    def run(batches):
        for pdf in batches:
            ments = pdf[ments_col]
            counts = np.fromiter(
                (len(m) for m in ments), dtype=np.int64, count=len(ments)
            )
            n = int(counts.sum())
            if n == 0:
                continue
            flat = [m for arr in ments for m in arr]
            ri = np.repeat(np.arange(len(ments)), counts)
            m_id = np.fromiter((m["m_id"] for m in flat), dtype=np.int64, count=n)
            start = np.fromiter((m["start"] for m in flat), dtype=np.int64, count=n)
            end = np.fromiter((m["end"] for m in flat), dtype=np.int64, count=n)
            typ = np.array([m["type"] for m in flat], dtype=object)
            text = np.array([m["text"] for m in flat], dtype=object)
            tcode, _ = pd.factorize(text)

            # sort by (doc, text, start, m_id); components = runs with
            # consecutive start gaps <= max_dist within a (doc, text) group
            order = np.lexsort((m_id, start, tcode, ri))
            s_ri, s_tc, s_st, s_mid = ri[order], tcode[order], start[order], m_id[order]
            brk = np.empty(n, dtype=bool)
            brk[0] = True
            brk[1:] = (
                (s_ri[1:] != s_ri[:-1])
                | (s_tc[1:] != s_tc[:-1])
                | (s_st[1:] - s_st[:-1] > max_dist)
            )
            first = np.flatnonzero(brk)
            sizes = np.diff(np.append(first, n))
            # union-find root == component min m_id (unions keep the
            # smaller id as root)
            c_mid = np.minimum.reduceat(s_mid, first)
            c_st = s_st[first]  # min start (sorted)
            c_ri = s_ri[first]
            # W6: cluster_idx = rank of (min start, min m_id) within doc
            c_order = np.lexsort((c_mid, c_st, c_ri))
            new_doc = np.empty(len(first), dtype=bool)
            new_doc[0] = True
            new_doc[1:] = c_ri[c_order][1:] != c_ri[c_order][:-1]
            doc_first = np.maximum.accumulate(
                np.where(new_doc, np.arange(len(first)), 0)
            )
            rank_sorted = np.arange(len(first)) - doc_first
            c_idx = np.empty(len(first), dtype=np.int64)
            c_idx[c_order] = rank_sorted
            elem_cidx = np.repeat(c_idx, sizes)

            inv = np.empty(n, dtype=np.int64)
            inv[order] = np.arange(n)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[ri],
                    "m_id": m_id.astype(np.int32),
                    "start": start.astype(np.int32),
                    "end": end.astype(np.int32),
                    "type": typ,
                    "text": text,
                    "cluster_idx": elem_cidx[inv].astype(np.int32),
                }
            )

    return docs_ments.select("doc_id", ments_col).mapInPandas(
        run, _CLUSTERED_SCHEMA
    )


def cluster_index(mentions: DataFrame, clustered: DataFrame) -> DataFrame:
    """W6: cluster_idx = dense_rank of clusters by earliest mention start
    within the doc (utils.py:139-148). Returns (doc_id, m_id, start, end,
    text, cluster_idx)."""
    cl = clustered.select(
        F.col("doc_id").alias("_cdoc"), F.col("m_id").alias("_cmid"), "root"
    )
    m = mentions.join(
        cl,
        (F.col("doc_id") == F.col("_cdoc")) & (F.col("m_id") == F.col("_cmid")),
    ).drop("_cdoc", "_cmid")
    cstart = m.groupBy(F.col("doc_id").alias("_rdoc"), F.col("root").alias("_rroot")).agg(
        F.min("start").alias("c_start"), F.min("m_id").alias("c_mid")
    )
    w = W.partitionBy("_rdoc").orderBy("c_start", "c_mid")
    ranked = cstart.withColumn("cluster_idx", F.dense_rank().over(w) - 1)
    return m.join(
        ranked.select("_rdoc", "_rroot", "cluster_idx"),
        (F.col("doc_id") == F.col("_rdoc")) & (F.col("root") == F.col("_rroot")),
    ).select("doc_id", "m_id", "start", "end", "type", "text", "cluster_idx")


def aggregate_cluster_relations(
    triples: DataFrame, mention_clusters: DataFrame, coref_label: str = "SELF"
) -> DataFrame:
    """A8 (utils.py:155-218): endpoints -> cluster idx, drop SELF, dedup
    (doc, h_idx, t_idx, r). Output carries sort keys, not physical order.

    `triples` must be in output format (head_start/head_end exclusive);
    mention lookup therefore matches on start + end-1.
    """
    mc = mention_clusters.select("doc_id", "start", "end", "cluster_idx")
    h = mc.select("doc_id", F.col("start").alias("head_start"),
                  (F.col("end") + 1).alias("head_end"),
                  F.col("cluster_idx").alias("h_idx"))
    t = mc.select("doc_id", F.col("start").alias("tail_start"),
                  (F.col("end") + 1).alias("tail_end"),
                  F.col("cluster_idx").alias("t_idx"))
    return (
        triples.filter(F.col("label") != coref_label)
        .join(h, ["doc_id", "head_start", "head_end"])
        .join(t, ["doc_id", "tail_start", "tail_end"])
        .select("doc_id", "h_idx", "t_idx", F.col("label").alias("r"))
        .distinct()
    )
