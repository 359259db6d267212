"""Checkpoint-resume with per-partition lineage + metrics
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"; SURVEY.md §4 item 3).

Model: the corpus is processed in doc-id buckets (the unit of resume —
an Iceberg snapshot commit per bucket on a real cluster; a parquet
append per bucket here, via TableIO). The lineage table records every
completed bucket with row counts and wall time. Resume = anti-join the
bucket list against completed lineage — only unprocessed buckets run,
several at a time (``run_resumable``).

This is deliberately NOT Spark streaming state: batch + snapshot-
granular resume, per SURVEY.md §2.10 (the reference is batch;
micro-batch resume = "which partitions lack triples").
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor, as_completed

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

LINEAGE_SCHEMA = (
    "bucket int, n_docs long, n_triples long, wall_sec double, finished_at double"
)


class LineageLog:
    """Parquet-backed lineage table (Iceberg table on a cluster)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # appends to one parquet directory share its _temporary directory
        self._commit = threading.Lock()

    def completed_buckets(self) -> list[int]:
        if not self._exists():  # first run: no lineage yet
            return []
        return [r.bucket for r in self.metrics().select("bucket").distinct().collect()]

    def _exists(self) -> bool:
        """Whether the lineage table exists. Asked of the file system, not
        by a failing read: a failed query also reaches the session's
        query listeners, and the one behind ``Observation`` logs it as
        an ERROR with a stack trace."""
        jvm = self.spark.sparkContext._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.path)
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        return path.getFileSystem(conf).exists(path)

    def record(self, bucket: int, n_docs: int, n_triples: int, wall_sec: float) -> None:
        """Append one lineage row, built as a literal projection (no
        RDD built from a python list). Safe to call from several
        threads: appends are serialized."""
        values = (bucket, n_docs, n_triples, float(wall_sec), time.time())
        fields = [f.split() for f in LINEAGE_SCHEMA.split(", ")]
        row = self.spark.range(1, numPartitions=1).select(
            *[F.lit(v).cast(t).alias(n) for v, (n, t) in zip(values, fields)]
        )
        with self._commit:
            row.write.mode("append").parquet(self.path)

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self.path)


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.hash(doc_id_col), F.lit(n_buckets)).cast("int")


def run_resumable(
    spark: SparkSession,
    docs: DataFrame,
    process_bucket,
    out_path: str,
    lineage_path: str,
    n_buckets: int = 8,
) -> DataFrame:
    """Process docs bucket-by-bucket, skipping completed ones.

    ``process_bucket(docs_subset) -> DataFrame`` is the pipeline stage
    (e.g. triples extraction). Each bucket writes to its OWN partition
    directory (``out_path/_bucket=b``) with mode('overwrite'): a crash
    between the bucket write and the lineage commit replays the bucket
    on resume, and the overwrite makes that replay idempotent — no
    duplicate rows can survive, matching Iceberg's
    dynamic-partition-overwrite snapshot semantics. A bucket counts as
    done only once its lineage row exists.

    A processed bucket costs two Spark jobs: its write and its lineage
    row. The lineage counts (docs in, rows written) are two
    ``Observation``s that the write itself collects, so nothing re-runs
    the bucket's scan to count its input or reads its output back.
    ``process_bucket`` must read every row of its subset once (no limit
    or sample), or ``n_docs`` counts only the rows it read.

    The buckets still to run are processed concurrently: a bucket is a
    one-task stage whose plan building, codegen and JIT warm-up leave
    the other cores idle. At most ``min(buckets to run,
    sc.defaultParallelism, usable driver CPUs)`` buckets are in flight,
    each on a pool thread that calls ``process_bucket`` and runs the
    bucket's write and lineage commit; ``process_bucket`` must
    therefore be safe to call from several threads. Each bucket's jobs
    keep the caller's job group, description and tags
    (``inheritable_thread_target``). Lineage commits are serialized by
    a lock in ``LineageLog.record``. A bucket's ``wall_sec`` is its own
    time from plan building to write end, so buckets in flight together
    have overlapping intervals and their ``wall_sec`` do not add up to
    the run's wall time. If a bucket raises, no pending bucket starts,
    the buckets already running finish and record their lineage, and
    the first error is re-raised (any other bucket's error is added to
    it as a note); a rerun processes exactly the buckets without a
    lineage row.
    """
    log = LineageLog(spark, lineage_path)
    done = set(log.completed_buckets())
    todo = [b for b in range(n_buckets) if b not in done]
    bucketed = docs.withColumn("_bucket", bucket_of(F.col("doc_id"), n_buckets))

    def run_bucket(b: int) -> None:
        t0 = time.perf_counter()
        docs_in, rows_out = Observation(), Observation()
        subset = (
            bucketed.filter(F.col("_bucket") == b).drop("_bucket")
            .observe(docs_in, F.count(F.lit(1)).alias("n"))
        )
        out = process_bucket(subset).observe(rows_out, F.count(F.lit(1)).alias("n"))
        out.write.mode("overwrite").parquet(f"{out_path}/_bucket={b}")
        wall = time.perf_counter() - t0
        log.record(b, docs_in.get["n"], rows_out.get["n"], wall)

    if todo:
        in_flight = min(
            len(todo), spark.sparkContext.defaultParallelism,
            len(os.sched_getaffinity(0)),
        )
        with ThreadPoolExecutor(in_flight, thread_name_prefix="bucket") as pool:
            # wrapped per bucket: each gets its own copy of the caller's
            # local properties, so a job group set inside one bucket's
            # thread stays there
            futures = {
                pool.submit(inheritable_thread_target(spark)(run_bucket), b): b
                for b in todo
            }
            try:
                for f in as_completed(futures):
                    f.result()
            except BaseException as first:
                pool.shutdown(cancel_futures=True)
                for f, b in futures.items():
                    err = None if f.cancelled() else f.exception()
                    if err is not None and err is not first:
                        first.add_note(f"bucket {b} also failed: {err!r}")
                raise
    return spark.read.parquet(out_path).drop("_bucket")
