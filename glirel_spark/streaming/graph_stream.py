"""Structured Streaming twin of incremental KG maintenance: a
documents stream -> per-micro-batch triple extraction + linking ->
UPSERT into a snapshot-versioned materialized graph, with a changelog
per snapshot.

north_rule shape: "graph materialization ... resumable from checkpoint
with per-partition lineage" — here each micro-batch commits a NEW
graph snapshot directory (v00000, v00001, ...) under the
streaming/commit.py protocol, the file-system stand-in for an Iceberg
snapshot commit (no Iceberg runtime is bundled; on a cluster the
per-version write becomes `MERGE INTO` / snapshot append on the
bucketed graph table and the latest-version lookup becomes the
catalog's current-snapshot pointer). Resumability comes from the
streaming checkpoint: a replayed micro-batch folds into ``v{N-1}`` and
rewrites the same version directory (overwrite = idempotent), the same
exactly-once contract plans/lineage.py gives the batch path.

Each upsert folds ONLY the new batch into the previous snapshot via
graph.upsert_graph (algebraic stat merge, one full-outer join on the
triple key) — never a rescan of historical documents, which is the
whole point at 10^12 docs.

Stream-final snapshot == batch materialize_graph over the full corpus,
asserted across a forced two-micro-batch split, and across a replay of
the second, in tests/test_streaming.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from glirel_spark import config
from glirel_spark.operators import graph as graph_ops
from glirel_spark.operators import linking
from glirel_spark.streaming.commit import (
    commit_batch,
    read_prev,
    run_available_now,
)
from glirel_spark.streaming.triples_stream import extract_triples_batch


def run_graph_maintenance_stream(
    docs_stream: DataFrame, out_dir: str, checkpoint: str
):
    """Drive the stream (availableNow): per micro-batch, extract + link
    triples, fold them into the previous snapshot and commit the result
    as ``out_dir/v{batch_id}``; then publish its CHANGELOG
    (graph.kg_snapshot_diff of previous vs new snapshot) under
    ``out_dir/changelog/v{batch_id}`` — the delta feed a downstream
    consumer (embedding refresher, cache invalidator, alert rule)
    subscribes to instead of re-reading the world.

    Changelog law (asserted in tests/test_streaming.py): replaying the
    changelogs over the first snapshot reconstructs the final
    snapshot's support counts — adds insert, changes overwrite,
    removes never occur under append-only upsert.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        triples = extract_triples_batch(batch_df)
        linked = linking.link_triples(triples, config.ALIAS_DICT).select(
            "doc_id", "subj", "pred", "obj", "prob"
        )
        prev = read_prev(spark, out_dir, batch_id)
        g = (
            graph_ops.materialize_graph(linked)
            if prev is None
            else graph_ops.upsert_graph(prev, linked)
        )
        # commit the snapshot first, then its delta (a consumer that
        # sees the changelog can rely on the snapshot existing); diff
        # over the committed snapshot, not the lazy upsert plan, so
        # extract+link+upsert run once
        g = spark.read.parquet(commit_batch(g, out_dir, batch_id))
        diff = (
            graph_ops.kg_snapshot_diff(prev, g)
            if prev is not None
            else g.select(
                "subj", "pred", "obj",
                F.lit("added").alias("status"),
                F.lit(0).cast("long").alias("n_before"),
                F.col("n_mentions").cast("long").alias("n_after"),
            )
        )
        commit_batch(diff, os.path.join(out_dir, "changelog"), batch_id)

    return run_available_now(docs_stream, sink, checkpoint)
