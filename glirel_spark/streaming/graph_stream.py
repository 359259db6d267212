"""Structured Streaming twin of incremental KG maintenance: a
documents stream -> per-micro-batch triple extraction + linking ->
UPSERT into a snapshot-versioned materialized graph.

north_rule shape: "graph materialization ... resumable from checkpoint
with per-partition lineage" — here each micro-batch commits a NEW
graph snapshot directory (v00000, v00001, ...), the file-system
stand-in for an Iceberg snapshot commit (no Iceberg runtime in the
sandbox; on a cluster the per-version write becomes `MERGE INTO` /
snapshot append on the bucketed graph table and the latest-version
lookup becomes the catalog's current-snapshot pointer). Resumability
comes from the streaming checkpoint: a replayed micro-batch rewrites
the same version directory (overwrite = idempotent), the same
exactly-once contract plans/lineage.py gives the batch path.

Each upsert folds ONLY the new batch into the latest snapshot via
graph.upsert_graph (algebraic stat merge, one full-outer join on the
triple key) — never a rescan of historical documents, which is the
whole point at 10^12 docs.

Stream-final snapshot == batch materialize_graph over the full corpus,
asserted across a forced two-micro-batch split in
tests/test_streaming.py.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from glirel_spark import config
from glirel_spark.operators import graph as graph_ops
from glirel_spark.operators import linking
from glirel_spark.streaming.triples_stream import extract_triples_batch

_VERSION_RE = re.compile(r"^v(\d{5})$")


def latest_snapshot(out_dir: str) -> str | None:
    """Path of the highest committed graph version, or None."""
    if not os.path.isdir(out_dir):
        return None
    versions = sorted(
        d for d in os.listdir(out_dir) if _VERSION_RE.match(d)
    )
    return os.path.join(out_dir, versions[-1]) if versions else None


def read_prev_graph(
    spark: SparkSession, out_dir: str, batch_id: int
) -> DataFrame | None:
    """Previous snapshot for micro-batch ``batch_id`` — ALWAYS
    ``v{batch_id-1}``, never the directory max.

    Deriving prev from the highest version dir breaks the replay
    contract: on a failure-replay of batch N, the failed attempt's
    (possibly partial) v{N} would become prev, double-folding the
    batch into itself AND making the overwrite target the same parquet
    path the plan is lazily reading (Spark: "Cannot overwrite a path
    that is also being read from"). Keying on batch_id ignores any
    version >= batch_id left by a failed attempt, so replays are
    genuinely idempotent.
    """
    if batch_id <= 0:
        return None
    path = os.path.join(out_dir, f"v{batch_id - 1:05d}")
    return spark.read.parquet(path) if os.path.isdir(path) else None


def run_graph_maintenance_stream(
    docs_stream: DataFrame, out_dir: str, checkpoint: str
):
    """Drive the stream (availableNow): per micro-batch, extract +
    link triples, fold them into the previous snapshot, commit the
    result as the next version directory."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        triples = extract_triples_batch(batch_df)
        linked = linking.link_triples(triples, config.ALIAS_DICT).select(
            "doc_id", "subj", "pred", "obj", "prob"
        )
        prev = read_prev_graph(spark, out_dir, batch_id)
        g = (
            graph_ops.materialize_graph(linked)
            if prev is None
            else graph_ops.upsert_graph(prev, linked)
        )
        g.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"v{batch_id:05d}")
        )

    q = (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_graph_maintenance_with_changelog(
    docs_stream: DataFrame, out_dir: str, checkpoint: str
):
    """Like run_graph_maintenance_stream, but every snapshot commit
    also publishes its CHANGELOG (graph.kg_snapshot_diff of previous vs
    new snapshot) under ``changelog/v{batch_id}`` — the delta feed a
    downstream consumer (embedding refresher, cache invalidator, alert
    rule) subscribes to instead of re-reading the world. Replayed
    micro-batches rewrite both directories: idempotent, same
    exactly-once contract as the snapshot itself.

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
        prev = read_prev_graph(spark, out_dir, batch_id)
        g = (
            graph_ops.materialize_graph(linked)
            if prev is None
            else graph_ops.upsert_graph(prev, linked)
        )
        # commit the snapshot first, then its delta (a consumer that
        # sees the changelog can rely on the snapshot existing)
        snap_path = os.path.join(out_dir, f"v{batch_id:05d}")
        g.write.mode("overwrite").parquet(snap_path)
        # diff over the committed snapshot, not the lazy upsert plan:
        # avoids re-running extract+link+upsert a second time
        g = spark.read.parquet(snap_path)
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
        diff.write.mode("overwrite").parquet(
            os.path.join(out_dir, "changelog", f"v{batch_id:05d}")
        )

    q = (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
