"""Two-cluster-size scaling evidence (BASELINE.json north_rule:
throughput scaling efficiency >= 0.8 from N to 4N executors).

Usage: python bench_scaling.py [--scorer lexical|neural]
Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_SCALE_REPLICATE,
       SPARK_GRAFT_SCALE_N, SPARK_GRAFT_SCALE_REPS

Sandbox stand-in: Spark's ``local-cluster[N, cores, mem]`` master spawns
N REAL executor JVMs on this box — a faithful N vs 4N *executor*
comparison (separate heaps, separate GC, real shuffle service), unlike
``local[c]`` thread scaling which bottlenecks on the single shared heap
(measured: local[8]->local[32] saturates at ~2.2x because the
allocation-heavy stages hit the one JVM's GC wall; 2->8 executors does
not have that artifact).

The measured job, per ``--scorer``:
- lexical (default): the flagship extraction+linking pipeline
  (documents -> fused mentions/pairs -> triples (``api.triples_from``)
  -> linked -> graph), fully materialized;
- neural: the tensor plane, ``api.triples_from(scorer="neural")`` — the
  mapInPandas scorer that decodes in-UDF at top_k=1. It is map-only per
  document (model singleton per python worker, Arrow batches, zero
  cross-doc state); the only exchange is the round-robin repartition
  feeding the scorer.

Protocol (both scorers): per level, two untimed warmup runs (JIT, python
worker spin-up, token-cache build; a production cluster is
long-running), then REPS timed runs (default 3) with BOTH the
minimum-based and median-based efficiency reported plus every raw time
(the shared box has +-20-25% run-to-run noise; min isolates each level's
achievable time, median guards against min's optimistic bias). Each
level runs under a ``taskset`` cpuset (when taskset is on PATH): its
executor cores plus one driver/daemon core per executor, capped at the
CPUs this process may use. A fixed driver allowance is itself an
asymmetry: at N it doubles the cpuset and the JVM-side work (Arrow IPC,
shuffle, daemons) rides the idle cores, while at 4N the same work shares
a 1.25x cpuset — on a real cluster every executor host carries its own
proportional OS/daemon slack. Input: the sf corpus replicated REPLICATE
x with offset doc ids (deterministic; no external data).

Prints one JSON line and appends a row to BENCH/BASELINE.md:
  efficiency = (T_N / T_4N) / 4      (1.0 = perfect linear scaling)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_EXEC_LO = int(os.environ.get("SPARK_GRAFT_SCALE_N", "1"))
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))

# per scorer: the timed job body, the REPLICATE default (each makes a
# timed run at N, 4 cores per executor, long against its jitter: the
# neural encoder costs ms per doc), the metric-name prefix and the
# BENCH/BASELINE.md row-label prefix
SCORERS = {
    "lexical": (
        # the extraction plan every surface runs, linked through the
        # literal alias map as the pipeline queries do
        "graph_ops.materialize_graph(linking.link_triples("
        "api.triples_from(dm), config.ALIAS_DICT))",
        64, "", "",
    ),
    "neural": ('api.triples_from(dm, scorer="neural")', 16, "neural_", "neural "),
}


def cores_per_executor(n_lo: int, n_cpus: int) -> int:
    """4 cores per executor where the box holds the 4N level at that
    size (16+ CPUs at N=1), else what fits, at least 1. On 32 CPUs, 1 vs
    4 executors x 4 cores: raw CPU scales 3.82x from 4 to 16 busy cores
    (all-core turbo), so that pair's machine ceiling is ~0.95; an 8->32
    core pair is hardware-capped at ~0.79 before Spark runs a task."""
    return max(1, min(4, n_cpus // (4 * n_lo)))


def cpuset(n_exec: int, cores_per_exec: int, cpus: list[int]) -> str:
    """taskset list for one level: the executors' cores plus one driver
    core per executor, capped at ``cpus``; written as ranges."""
    ids = cpus[: n_exec * cores_per_exec + n_exec]
    runs: list[list[int]] = []
    for c in ids:
        if runs and c == runs[-1][1] + 1:
            runs[-1][1] = c
        else:
            runs.append([c, c])
    return ",".join(f"{a}-{b}" if b > a else str(a) for a, b in runs)


def executor_memory_mb(cores_per_exec: int, n_hi: int) -> int:
    """3 GiB per executor core, the same at BOTH levels so memory per
    core is equal and the comparison fair (at 8 GiB per 4 cores the
    320k-doc cached mention relation was marginal against the single
    executor's storage fraction, making T_N vary with eviction luck),
    capped so the 4N level's heaps fit in half the box's memory."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return min(3072 * cores_per_exec, half_mb // n_hi)


_JOB = r"""
import sys, time, json
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
from glirel_spark import config
from glirel_spark.operators import fused, linking
from glirel_spark.operators import graph as graph_ops
from glirel_spark.plans import api
from glirel_spark.sources import tables

n_exec = {n_exec}
total_cores = n_exec * {cores_per_exec}
spark = (
    SparkSession.builder
    .master(f"local-cluster[{{n_exec}},{cores_per_exec},{exec_mem}]")
    .appName(f"{scorer}-scaling-{{n_exec}}x{cores_per_exec}")
    .config("spark.executor.memory", "{exec_mem}m")
    # AQE upgrades the mention-enrichment joins to broadcast at this
    # doc count; the default 1g driver heap OOMs building the table —
    # a deploy sizing fact, not an engine property (measured: N-level
    # died 'Not enough memory to build and broadcast')
    .config("spark.driver.memory", "4g")
    # executor python workers must import glirel_spark (mapInPandas UDF);
    # local stand-in for spark-submit --py-files glirel_spark.zip
    .config("spark.executorEnv.PYTHONPATH", {repo!r})
    # single-threaded BLAS in python workers (session._BLAS_PINS):
    # un-pinned OpenBLAS spawns ncpu spin-waiting threads per worker —
    # 16 workers x 32 spinners made 4 executors 1.5x SLOWER than 1
    .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
    .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    .config("spark.sql.shuffle.partitions", str(total_cores * 2))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # CPU-bound per-row work: favor parallelism over large shuffle blocks
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
    # zstd halves shuffle bytes through the box's one shared disk
    .config("spark.io.compression.codec", "zstd")
    .config("spark.shuffle.file.buffer", "1m")
    # NOTE: shuffle goes through the box's single shared disk — on a
    # real cluster every executor node brings its own local NVMe, so
    # this is a sandbox-only serial term (see BENCH/BASELINE.md).
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    # the taskset cpuset is SATURATED by design (workers at 100% for
    # minutes + executor/driver/master/worker JVMs all pinned): the
    # default 120s network timeout sees heartbeat starvation as a dead
    # executor — lengthen, don't unpin
    .config("spark.network.timeout", "600s")
    .config("spark.executor.heartbeatInterval", "60s")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("WARN")

flat = spark.read.parquet({sf_dir!r} + "/documents.parquet")
reps = [
    flat.withColumn("doc_id", F.col("doc_id") + F.lit(k * 1000000))
    for k in range({replicate})
]
big = reps[0]
for r in reps[1:]:
    big = big.unionByName(r)
big = big.repartition(total_cores * 2)
inter = tables.interleaved_documents(big)
# the cached gazetteer/hygiene pass: every timed run re-reads it
dm = fused.with_mentions(tables.docs_tokens(inter)).cache()

def job():
    {body}.write.format("noop").mode("overwrite").save()

for _ in range(2):  # warmups: cache build, JIT, python workers; then the JIT settles
    job()
times = []
for _ in range({reps}):
    t0 = time.perf_counter()
    job()
    times.append(time.perf_counter() - t0)
elapsed = min(times)
n_docs = big.count()
spark.stop()
print(json.dumps({{"n_exec": n_exec, "sec": elapsed, "n_docs": n_docs,
                   "all_runs": [round(t, 3) for t in times]}}))
"""


def run_level(scorer: str, replicate: int, n_exec: int, cores_per_exec: int,
              exec_mem: int, cpus: str | None) -> dict:
    code = _JOB.format(
        repo=str(REPO), n_exec=n_exec, cores_per_exec=cores_per_exec,
        exec_mem=exec_mem, sf_dir=SF_DIR, replicate=replicate, reps=REPS,
        scorer=scorer, body=SCORERS[scorer][0],
    )
    cmd = [sys.executable, "-c", code]
    if cpus is not None:
        cmd = ["taskset", "-c", cpus] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--scorer", choices=sorted(SCORERS), default="lexical")
    scorer = ap.parse_args().scorer
    _, default_replicate, metric_prefix, row_prefix = SCORERS[scorer]
    replicate = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICATE", default_replicate))
    n_hi = N_EXEC_LO * 4
    cpus = sorted(os.sched_getaffinity(0))
    cpe = cores_per_executor(N_EXEC_LO, len(cpus))
    mem = executor_memory_mb(cpe, n_hi)
    set_lo = set_hi = None
    if shutil.which("taskset"):
        set_lo, set_hi = cpuset(N_EXEC_LO, cpe, cpus), cpuset(n_hi, cpe, cpus)
    lo = run_level(scorer, replicate, N_EXEC_LO, cpe, mem, set_lo)
    hi = run_level(scorer, replicate, n_hi, cpe, mem, set_hi)
    eff = (lo["sec"] / hi["sec"]) / 4.0
    med_lo = sorted(lo["all_runs"])[len(lo["all_runs"]) // 2]
    med_hi = sorted(hi["all_runs"])[len(hi["all_runs"]) // 2]
    eff_median = (med_lo / med_hi) / 4.0
    result = {
        "metric": f"{metric_prefix}scaling_efficiency_{N_EXEC_LO}_to_{n_hi}_executors",
        "value": round(eff, 3),
        "value_median": round(eff_median, 3),
        "all_runs_lo": lo["all_runs"],
        "all_runs_hi": hi["all_runs"],
        "unit": "ratio",
        "cluster_lo": f"local-cluster[{N_EXEC_LO},{cpe},{mem}]",
        "cluster_hi": f"local-cluster[{n_hi},{cpe},{mem}]",
        "t_lo_sec": round(lo["sec"], 3),
        "t_hi_sec": round(hi["sec"], 3),
        "docs_per_sec_lo": round(lo["n_docs"] / lo["sec"], 1),
        "docs_per_sec_hi": round(hi["n_docs"] / hi["sec"], 1),
        "n_docs": lo["n_docs"],
        "sf_dir": SF_DIR,
        "replicate": replicate,
        "cpuset_lo": set_lo,
        "cpuset_hi": set_hi,
    }
    print(json.dumps(result))
    pin = f"taskset {set_lo} / {set_hi}" if set_lo else "no taskset"
    with (REPO / "BENCH" / "BASELINE.md").open("a") as f:
        f.write(
            f"| {row_prefix}{N_EXEC_LO} vs {n_hi} | {result['n_docs']} | "
            f"{result['t_lo_sec']} | {result['t_hi_sec']} | "
            f"{result['docs_per_sec_lo']} | {result['docs_per_sec_hi']} | "
            f"{result['value']} (median {result['value_median']}, "
            f"{cpe} core(s)/executor, {pin}, runs lo={result['all_runs_lo']} "
            f"hi={result['all_runs_hi']}) |\n"
        )


if __name__ == "__main__":
    main()
