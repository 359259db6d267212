"""Structured Streaming twin of the flagship extraction pipeline:
a documents stream -> (subj, pred, obj) triples, micro-batch by
micro-batch.

The reference is batch-only (SURVEY.md §2.10); a production KG pipeline
ingests documents continuously. Design: each micro-batch runs the batch
extraction plan itself (``plans.api.triples_from``) inside
``foreachBatch``. At top_k=1 that plan is one narrow projection — the
label argmax, threshold and constraints are row-local on the pair row —
so it needs no state store and no watermark. At top_k > 1 the decode's
per-pair top-k is batch-local and still exact: a document arrives in
exactly one micro-batch, so pair keys never straddle batches. A
streaming-native groupBy would instead keep unbounded state (pair keys
are unique forever, so their state would never be evicted).

Each micro-batch's triples are committed to ``out/v{batch_id}`` under
the streaming/commit.py protocol, so a replayed batch rewrites its own
directory instead of appending its rows twice. Equality with the batch
pipeline, and a replay that adds no row, are asserted in
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from glirel_spark.plans import api
from glirel_spark.sources import tables
from glirel_spark.streaming.commit import commit_batch, run_available_now

DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def extract_triples_batch(docs_flat: DataFrame) -> DataFrame:
    """flat documents -> triples; pure function of one (micro-)batch."""
    return api.extract_triples(
        tables.docs_tokens(tables.interleaved_documents(docs_flat))
    )


def run_extraction_stream(
    docs_stream: DataFrame, out_path: str, checkpoint: str
):
    """Drive the stream to completion (availableNow), committing each
    micro-batch's decoded triples to ``out_path/v{batch_id}``; read them
    back with commit.read_batches."""
    return run_available_now(
        docs_stream,
        lambda df, batch_id: commit_batch(
            extract_triples_batch(df), out_path, batch_id
        ),
        checkpoint,
    )
