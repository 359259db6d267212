"""Benchmark harness: queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Usage: python bench.py [all | query ...]
       (no query = the BENCH_QUERIES headline set; ``all`` = every
       __spark_entry__.queries() entry)
Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS

Each query is forced to full materialization with the noop sink (count()
would let Catalyst skip projected columns). Times include plan +
execution, excluding session startup. Each query's Spark jobs carry a
``bench rep<r>: <query>`` job description.

Contention discipline: the reps run as INTERLEAVED cycles over the whole
set (default 2), so host drift hits every query evenly. ``value`` is the
sum of per-query minima over all reps (the engine's repeatable cost);
``rep1_total`` is the cold first pass (one-time cache builds included),
``per_rep`` every raw time, and ``spread`` each query's max/min over reps
2..REPS — a delta is real only if it exceeds the spread.

A query whose error names a file that does not exist (say, absent
reference data; the rule of tools/check_oracle.py) prints
``SKIP <name>: missing <path>`` to stderr and is listed under
``skipped``. Any other query that raises prints ``ERROR <name>: <exc>``
to stderr and is listed under ``errors``. Neither is timed; the other
queries go on, and the run exits 1 after printing its JSON line exactly
when ``errors`` is non-empty.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from glirel_spark.session import get_spark  # noqa: E402
from tools.check_oracle import missing_path  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))

# headline set: flagship pipeline + one per operator family
BENCH_QUERIES = [
    "triples",            # flagship extraction (lexical scorer)
    "triples_neural",     # tensor-plane scorer via mapInPandas
    "coref_clusters",     # union-find clustering
    "threshold_search",   # eval replay over the whole grid
    "graph",              # linking + two-exchange materialization
    "minhash_neardups",   # LSH dedup
    "simhash",            # simhash signatures
    "ann_topk",           # brute-force cosine top-k
    "ann_topk_kmeans",    # trained-IVF multi-probe ANN (scale path)
    "doc_quality",        # text stats scan
    "media_features",     # multimodal mapInPandas
    "events_sessionized", # window sessionization
]


def main() -> int:
    import __spark_entry__ as entry

    queries = entry.queries()
    names = sys.argv[1:] or BENCH_QUERIES
    if names == ["all"]:
        names = list(queries)
    spark = get_spark("bench", cores=CPUS)
    samples: dict[str, list[float]] = {n: [] for n in names}
    errors: dict[str, str] = {}
    skipped: dict[str, str] = {}
    t_all = time.perf_counter()
    for rep in range(1, REPS + 1):
        for name in names:
            if name not in samples:
                continue
            spark.sparkContext.setJobDescription(f"bench rep{rep}: {name}")
            t0 = time.perf_counter()
            try:
                queries[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # noqa: BLE001
                del samples[name]
                path = missing_path(exc)
                if path is not None:
                    print(f"SKIP {name}: missing {path}", file=sys.stderr)
                    skipped[name] = path
                    continue
                traceback.print_exc()
                print(f"ERROR {name}: {exc}", file=sys.stderr)
                errors[name] = (str(exc) or repr(exc)).splitlines()[0]
                continue
            samples[name].append(round(time.perf_counter() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    wall = round(time.perf_counter() - t_all, 3)
    best = {n: min(v) for n, v in samples.items()}
    rep1 = {n: v[0] for n, v in samples.items()}
    spread = {
        n: round(max(v[1:]) / max(min(v[1:]), 1e-9), 3)
        for n, v in samples.items() if len(v) > 1
    }

    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    flagship = best.get("triples")
    result = {
        "metric": "headline_queries_min_total",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "queries": best,
        "errors": errors,
        "skipped": skipped,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "n_docs": n_docs,
        "flagship_docs_per_sec": round(n_docs / flagship, 1) if flagship else None,
        "cpus": CPUS,
        "reps": REPS,
        "rep1_total": round(sum(rep1.values()), 3),
        "rep1_queries": rep1,
        "per_rep": samples,
        "spread": spread,
        "max_cycle_spread": round(max(spread.values(), default=0.0), 3),
        "wall_clock_total": wall,
    }
    spark.stop()
    print(json.dumps(result))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
