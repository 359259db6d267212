"""The micro-batch commit protocol of the ``foreachBatch`` streams
(triples_stream, sketch_stream, media_stream, graph_stream).

- Micro-batch N writes its output to ``out/v{N:05d}`` with overwrite
  (``commit_batch``). A replayed batch (it ran, but its checkpoint
  commit was lost) rewrites the same directory instead of adding its
  rows a second time.
- A stream that folds state reads its previous state from
  ``v{N-1}`` (``read_prev``), never from the highest directory.
- Per-batch outputs are read back as one frame (``read_batches``).

``run_available_now`` drives a stream to completion with a checkpoint,
so the stream resumes at micro-batch granularity — the streaming
counterpart of plans/lineage.py. The replay contract is asserted in
tests/test_streaming.py.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_VERSION_RE = re.compile(r"^v(\d{5})$")


def _version_dir(out_dir: str, batch_id: int) -> str:
    return os.path.join(out_dir, f"v{batch_id:05d}")


def commit_batch(df: DataFrame, out_dir: str, batch_id: int) -> str:
    """Write micro-batch ``batch_id``'s output, replacing any earlier
    attempt; returns the committed path."""
    path = _version_dir(out_dir, batch_id)
    df.write.mode("overwrite").parquet(path)
    return path


def latest_snapshot(out_dir: str) -> str | None:
    """Path of the highest committed version, or None."""
    if not os.path.isdir(out_dir):
        return None
    versions = sorted(
        d for d in os.listdir(out_dir) if _VERSION_RE.match(d)
    )
    return os.path.join(out_dir, versions[-1]) if versions else None


def read_prev(
    spark: SparkSession, out_dir: str, batch_id: int
) -> DataFrame | None:
    """Previous state for micro-batch ``batch_id`` — ALWAYS
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
    path = _version_dir(out_dir, batch_id - 1)
    return spark.read.parquet(path) if os.path.isdir(path) else None


def read_batches(spark: SparkSession, out_dir: str) -> DataFrame:
    """The union of every committed micro-batch output under
    ``out_dir`` (recursiveFileLookup skips partition discovery, so no
    synthetic column appears)."""
    return spark.read.option("recursiveFileLookup", "true").parquet(out_dir)


def run_available_now(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
):
    """Run ``sink(batch_df, batch_id)`` on every micro-batch available
    now, checkpointed at ``checkpoint``; returns the finished query."""
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
