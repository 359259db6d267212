"""Structured Streaming twin of the mergeable-sketch story: fold HLL
registers across document micro-batches by elementwise max — the merge
law that makes sketches the cardinality structure of choice at 10^12
rows (registers from disjoint shards combine without rescanning either
shard). Commits follow the snapshot-versioned protocol of
streaming/commit.py, the same one streaming/graph_stream.py uses: batch
N folds into ``v{N-1}`` and commits ``v{N}``.

Stream-final registers == one-shot batch registers, also after a
replayed micro-batch, asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from glirel_spark.operators.textstats import hll_dense_registers
from glirel_spark.streaming.commit import (
    commit_batch,
    read_prev,
    run_available_now,
)


def merge_registers(a: DataFrame, b: DataFrame) -> DataFrame:
    """Elementwise max over the (lang, reg) key — the HLL merge law.
    Full-outer so a batch introducing a NEW lang extends the frame."""
    aa = a.select("lang", "reg", F.col("m").alias("_ma"))
    bb = b.select("lang", "reg", F.col("m").alias("_mb"))
    return (
        aa.join(bb, ["lang", "reg"], "full")
        .select(
            "lang",
            "reg",
            F.greatest(
                F.coalesce("_ma", F.lit(0)), F.coalesce("_mb", F.lit(0))
            ).cast("int").alias("m"),
        )
    )


def run_hll_stream(docs_stream: DataFrame, out_dir: str, checkpoint: str):
    """Per micro-batch: build the batch's register frame, max-merge
    into the previous snapshot, commit as the batch's version."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # the stream carries the raw flat documents table — the same
        # relation the batch distinct_hll consumes via _flat_docs
        batch_regs = hll_dense_registers(batch_df)
        prev = read_prev(batch_df.sparkSession, out_dir, batch_id)
        merged = (
            batch_regs if prev is None else merge_registers(prev, batch_regs)
        )
        commit_batch(merged, out_dir, batch_id)

    return run_available_now(docs_stream, sink, checkpoint)
