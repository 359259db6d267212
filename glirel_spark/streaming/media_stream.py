"""Structured Streaming twin of the interleaved-media ingest path:
a documents stream -> caption pairs / media-atomic chunks, micro-batch
by micro-batch.

The reference is batch-only (SURVEY.md §2.10); a production multimodal
ingest tails an arrival log and mines (image, caption) pairs and
packing chunks continuously. Both operators are ROW-LOCAL (zero
exchanges — see PLANS.md) and a document lives in exactly one
micro-batch, so batch-local == global by construction and no state
store or watermark is needed. Like the flagship extraction twin
(triples_stream.py), the per-batch transform runs inside
``foreachBatch``: the interleave synthesis uses the ``materialized``
expression barrier (functions/barrier.py), whose benign-nondeterminism
trick streaming analysis rejects outside a batch context. Each batch's
rows are committed to ``out/v{batch_id}`` under the streaming/commit.py
protocol.

Equality with the batch operators is asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from glirel_spark.operators import multimodal
from glirel_spark.sources import tables
from glirel_spark.streaming.commit import commit_batch, run_available_now


def caption_pairs_batch(docs_flat: DataFrame) -> DataFrame:
    """Caption mining over one (micro-)batch of flat documents."""
    return multimodal.caption_pairs(tables.interleaved_documents(docs_flat))


def interleaved_chunks_batch(docs_flat: DataFrame) -> DataFrame:
    """Media-atomic chunking over one (micro-)batch."""
    return multimodal.interleaved_chunks(
        tables.interleaved_documents(docs_flat)
    )


def run_media_stream(
    docs_stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_path: str,
    checkpoint: str,
):
    """Drive the stream to completion (availableNow), committing each
    micro-batch's transformed rows to ``out_path/v{batch_id}``; read
    them back with commit.read_batches."""
    return run_available_now(
        docs_stream,
        lambda df, batch_id: commit_batch(transform(df), out_path, batch_id),
        checkpoint,
    )
