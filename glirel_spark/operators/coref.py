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

``cluster_ments_fused`` runs edges + union-find + cluster ordering in
one zero-shuffle ``mapInPandas`` stage over per-doc mention arrays —
the plan the pipeline runs. Its independent specification is the
``coref_clusters`` oracle's ``coref_edges`` CTE; tests/test_coref.py
also checks it against a pure-Python union-find, and edge relations of
a general graph go through ``fixpoint.min_label_components``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

COREF_MAX_DIST = 12

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

    Equal to per-doc union-find over the coref edges — tested — by
    this argument: the coref edge rule (same text, |Δstart| <= d) is an
    interval graph on a line per (doc, text) group, so its connected
    components are exactly the maximal runs of start-sorted mentions
    whose consecutive gaps are <= d (any pair straddling a gap > d is
    itself > d apart). No per-pair edge materialization, no cogroup, no
    iteration: one lexsort + run-break cumsum over the whole Arrow
    batch, vectorized numpy end-to-end (no per-doc Python loop).

    At 10^12 docs this is the plan you want: clustering state never
    leaves the row's partition.
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
