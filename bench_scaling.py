"""Two-cluster-size scaling evidence (BASELINE.json north_rule:
throughput scaling efficiency >= 0.8 from N to 4N executors).

Sandbox stand-in: Spark's ``local-cluster[N, 4, mem]`` master spawns N
REAL executor JVMs on this box — a faithful N vs 4N *executor*
comparison (separate heaps, separate GC, real shuffle service), unlike
``local[c]`` thread scaling which bottlenecks on the single shared heap
(measured: local[8]->local[32] saturates at ~2.2x because the
allocation-heavy stages hit the one JVM's GC wall; 2->8 executors does
not have that artifact).

The measured job: the flagship extraction+linking pipeline
(documents -> fused mentions/pairs -> triples (``api.triples_from``) ->
linked -> salted graph), fully materialized. Per level: one warmup run (JIT +
token-cache build; a production cluster is long-running), then REPS
timed runs (default 3) with BOTH the minimum-based and median-based
efficiency reported plus every raw time (the shared box has +-20-25%
run-to-run noise; min isolates each level's achievable time, median
guards against min's optimistic bias — ADVICE r2). Input:
the sf corpus replicated REPLICATE x with offset doc ids
(deterministic; no external data).

Prints one JSON line and appends a row to BENCH/BASELINE.md:
  efficiency = (T_N / T_4N) / 4      (1.0 = perfect linear scaling)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# N=1 vs 4N=4 executors x 4 cores: measured on this box, raw CPU scales
# 3.82x from 4 to 16 busy cores (all-core turbo frequency scaling), so
# the machine ceiling for this pair is ~0.95; the 8->32-core pair is
# hardware-capped at ~0.79 (3.17x) before Spark runs a single task.
REPLICATE = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICATE", "64"))
N_EXEC_LO = int(os.environ.get("SPARK_GRAFT_SCALE_N", "1"))
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
CORES_PER_EXEC = 4
# 12 GiB per executor (same at BOTH levels, so memory-per-core is
# equal and the comparison fair): at 8 GiB the 320k-doc cached mention
# relation was marginal against the single executor's storage
# fraction, making T_N vary with eviction luck run to run.
EXEC_MEM_MB = 12288

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
    .appName(f"scaling-{{n_exec}}x{cores_per_exec}")
    .config("spark.executor.memory", "{exec_mem}m")
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
dt = tables.text_of(inter).select(
    "doc_id", F.split("text", " ").alias("tokens"))
# the cached gazetteer/hygiene pass: every timed run re-reads it
dm = fused.with_mentions(dt).cache()

def job():
    # the extraction plan every surface runs (api.triples_from), linked
    # through the literal alias map as the pipeline queries do
    linked = linking.link_triples(api.triples_from(dm), config.ALIAS_DICT)
    graph_ops.materialize_graph(linked).write.format("noop").mode("overwrite").save()

job()  # warmup: JIT + cache build
# min of {reps} timed runs: the box has +-20-25% run-to-run noise
# (page-cache drift, thermal/turbo sag under sustained load); min
# isolates each level's achievable time, which is what the efficiency
# ratio is about. Single-run ratios measured 0.53-1.005 on identical
# code; min-of-2 in one session reproduces within a few percent.
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


def run_level(n_exec: int) -> dict:
    code = _JOB.format(
        repo=str(REPO), n_exec=n_exec, cores_per_exec=CORES_PER_EXEC,
        exec_mem=EXEC_MEM_MB, sf_dir=SF_DIR, replicate=REPLICATE,
        reps=REPS,
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    lo = run_level(N_EXEC_LO)
    hi = run_level(N_EXEC_LO * 4)
    eff = (lo["sec"] / hi["sec"]) / 4.0
    # ADVICE r2: min-of-N biases optimistic on a noisy shared box —
    # report the median-based ratio alongside (REPS now defaults to 3
    # so the median is a real middle run, not a tie-breaker).
    med_lo = sorted(lo["all_runs"])[len(lo["all_runs"]) // 2]
    med_hi = sorted(hi["all_runs"])[len(hi["all_runs"]) // 2]
    eff_median = (med_lo / med_hi) / 4.0
    result = {
        "metric": f"scaling_efficiency_{N_EXEC_LO}_to_{N_EXEC_LO * 4}_executors",
        "value": round(eff, 3),
        "value_median": round(eff_median, 3),
        "all_runs_lo": lo["all_runs"],
        "all_runs_hi": hi["all_runs"],
        "unit": "ratio",
        "cluster_lo": f"local-cluster[{N_EXEC_LO},{CORES_PER_EXEC},{EXEC_MEM_MB}]",
        "cluster_hi": f"local-cluster[{N_EXEC_LO * 4},{CORES_PER_EXEC},{EXEC_MEM_MB}]",
        "t_lo_sec": round(lo["sec"], 3),
        "t_hi_sec": round(hi["sec"], 3),
        "docs_per_sec_lo": round(lo["n_docs"] / lo["sec"], 1),
        "docs_per_sec_hi": round(hi["n_docs"] / hi["sec"], 1),
        "n_docs": lo["n_docs"],
        "sf_dir": SF_DIR,
        "replicate": REPLICATE,
    }
    print(json.dumps(result))
    bench_md = REPO / "BENCH" / "BASELINE.md"
    bench_md.parent.mkdir(exist_ok=True)
    if not bench_md.exists():
        bench_md.write_text(
            "# BENCH/BASELINE — measured throughput & scaling\n\n"
            "Flagship job: documents -> fused mentions/pairs -> scored -> "
            "triples -> linked -> salted graph (fully materialized, noop sink).\n"
            "Cluster-size stand-in: `local-cluster[N,4,4096]` — N real "
            "executor JVMs (separate heaps/GC, real shuffle) — N vs 4N "
            "executors per BASELINE.json (efficiency >= 0.8 target). "
            "Warm-JVM measurement (one untimed warmup per level).\n\n"
            "| executors | n_docs | T_N s | T_4N s | docs/s @N | "
            "docs/s @4N | efficiency |\n|---|---|---|---|---|---|---|\n"
        )
    with bench_md.open("a") as f:
        f.write(
            f"| {N_EXEC_LO} vs {N_EXEC_LO * 4} | {result['n_docs']} | "
            f"{result['t_lo_sec']} | {result['t_hi_sec']} | "
            f"{result['docs_per_sec_lo']} | {result['docs_per_sec_hi']} | "
            f"{result['value']} (median {result['value_median']}, "
            f"runs lo={result['all_runs_lo']} hi={result['all_runs_hi']}) |\n"
        )


if __name__ == "__main__":
    main()
