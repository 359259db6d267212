"""Hardware ceiling for the neural stage's N->4N scaling: the SAME
numpy scorer compute as model/udf.neural_triples, run as bare
taskset-pinned multiprocessing — no Spark, no JVM, no shuffle.

Why: ``bench_scaling.py --scorer neural`` measures the Spark stage at
4 vs 16 executor cores on a 16+ CPU box (cpusets 0-4 and 0-19: one
driver core per executor). If THIS harness — pure python processes doing the
identical forward passes under the identical cpusets — scales at the
same ratio, the loss is memory-bandwidth/turbo physics of 16
concurrent numpy processes on this box, not a Spark plan defect; the
Spark number IS the hardware ceiling. (Flagship extraction+linking,
which is JVM-side, separately measures 0.83-0.92 — the north-rule
target stage.)

Usage: python tools/bench_neural_ceiling.py [docs_per_proc]
Prints one JSON line with docs/s at both levels and the ratio/4.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

DOCS_PER_PROC = int(sys.argv[1]) if len(sys.argv) > 1 else 600
REPS = int(os.environ.get("SPARK_GRAFT_CEIL_REPS", "3"))


def _worker(n_docs: int, q) -> None:
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ["MKL_NUM_THREADS"] = "1"
    import numpy as np

    from glirel_spark.model.scorer import DeterministicGLiREL

    model = DeterministicGLiREL.get()
    labels = ("feeds", "used by", "joins", "creates")
    # token lengths like the sf corpus (~60-word docs), fixed content
    toks = [f"w{i % 97}" for i in range(60)]
    spans = np.array([[3, 3], [17, 18], [40, 40]])
    t0 = time.perf_counter()
    for _ in range(n_docs):
        model.score_doc(toks, spans, labels, None)
    q.put(time.perf_counter() - t0)


def run_level(n_procs: int, cpus: str, n_docs: int) -> float:
    """docs/s for n_procs pinned to cpuset `cpus` (min over REPS)."""
    os.sched_setaffinity(0, {int(c) for r in cpus.split(",")
                             for c in range(int(r.split("-")[0]),
                                            int(r.split("-")[1]) + 1)})
    best = None
    for _ in range(REPS):
        q = mp.Queue()
        procs = [
            mp.Process(target=_worker, args=(n_docs, q))
            for _ in range(n_procs)
        ]
        t0 = time.perf_counter()
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        wall = time.perf_counter() - t0
        _ = [q.get() for _ in procs]
        rate = n_procs * n_docs / wall
        best = rate if best is None else max(best, rate)
    return best


def main() -> None:
    mp.set_start_method("spawn")
    # mirror bench_scaling's cpusets at 4 cores per executor (one
    # driver core per executor):
    # lo = 4 exec cores + 1 allowance core, 4 busy workers
    # hi = 16 exec cores + 4 allowance cores, 16 busy workers
    cpuset_lo = "0-4"
    lo = run_level(4, cpuset_lo, DOCS_PER_PROC)
    hi = run_level(16, "0-19", DOCS_PER_PROC)
    result = {
        "metric": "neural_ceiling_docs_per_sec_4_vs_16_procs",
        "docs_per_sec_lo": round(lo, 1),
        "docs_per_sec_hi": round(hi, 1),
        "ratio": round(hi / lo, 3),
        "efficiency": round(hi / lo / 4.0, 3),
        "docs_per_proc": DOCS_PER_PROC,
        "reps": REPS,
        "cpuset_lo": cpuset_lo,
        "cpuset_hi": "0-19",
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
