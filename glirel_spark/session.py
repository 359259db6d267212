"""SparkSession factory tuned for this engine.

Local mode is the sandbox stand-in for a multi-executor cluster; all
tuning below (AQE, skew-join splitting, Arrow batching, shuffle-partition
sizing) is the configuration we would ship on a real 1000-executor
cluster, with only the partition counts scaled.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# numpy's BLAS must be single-threaded inside Spark python workers:
# Spark already owns the core-level parallelism (one worker per task
# slot), and OpenBLAS's default pool spawns ncpu SPIN-WAITING threads
# PER WORKER — measured 5-7x slowdown on the tensor-plane stage with
# 16 workers x 32 spinning threads (``bench_scaling.py --scorer neural``
# found it: the 4-executor level ran 1.5x SLOWER than 1 executor until
# pinned). Set on the driver (local-mode workers inherit its env) and
# exported to executors in get_spark.
_BLAS_PINS = {
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}
for _k, _v in _BLAS_PINS.items():
    os.environ.setdefault(_k, _v)


def default_driver_memory() -> str:
    """16g, capped at half the box's physical memory: a heap that large
    is seldom collected, so two sessions at 16g on a 15 GB box get
    OOM-killed instead of failing with a Java OutOfMemoryError."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(16 * 1024, half_mb)}m"


def get_spark(
    app: str = "glirel_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~= cores in local mode; on a real cluster: 2-3x total cores,
        # with AQE coalescing down at runtime.
        shuffle_partitions = max(cores, 8)
    b = SparkSession.builder
    # under spark-submit the JVM gateway already exists and --master /
    # --driver-memory were decided at launch; hard-setting .master()
    # here would silently override the submitted cluster (it did:
    # a local-cluster submit ran local[4] until this check existed).
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if not submitted:
        b = b.master(f"local[{cores}]")
    b = (
        b.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # NOTE on shuffle compression: at sandbox scale (sf<=0.1) the
        # shuffles are KB-MB and CPU-bound, so the lz4 default wins
        # (zstd measured +1-6s per heavy query here). The scaling
        # harness (bench_scaling.py) DOES enable zstd: there the
        # shuffle volume through the box's single shared disk is the
        # serial term, and halving the bytes is worth the CPU — the
        # same trade a real cluster makes for network-bound exchanges.
    )
    for k, v in _BLAS_PINS.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
