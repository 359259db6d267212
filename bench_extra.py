"""Round-6 measurement harness (bench.py is FROZEN for the driver;
this file is the builder's own instrument).

Differences from bench.py, per the guide §1 and the round-5 noise
postmortem: queries run in INTERLEAVED cycles (A/B/A/B across the full
set, >= 3 cycles) so host drift hits every query evenly, and the raw
per-cycle arrays are emitted so a delta can be judged against the
cycle spread ("a delta is real only if it exceeds the spread").
Timing methodology is identical: noop sink, full materialization,
plan+execution included, session startup excluded.

A query that raises prints ``ERROR <name>: <exc>`` to stderr, is listed
under ``errors`` and is not timed; the other queries go on.

Usage: python bench_extra.py [cycles] [all | query ...]
       (no query = the bench.py headline set; ``all`` = every
       __spark_entry__.queries() entry)
Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same as bench.py)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench import BENCH_QUERIES, CPUS, SF_DIR  # noqa: E402
from glirel_spark.session import get_spark  # noqa: E402


def main() -> None:
    import __spark_entry__ as entry

    cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    queries = entry.queries()
    names = sys.argv[2:] or BENCH_QUERIES
    if names == ["all"]:
        names = list(queries)
    spark = get_spark("bench-extra", cores=CPUS)
    samples: dict[str, list[float]] = {n: [] for n in names}
    errors: dict[str, str] = {}
    t_all = time.perf_counter()
    for cycle in range(cycles + 1):  # cycle 0 = warmup (cache builds)
        for name in names:
            if name in errors:
                continue
            spark.sparkContext.setJobDescription(f"bench_extra c{cycle}: {name}")
            t0 = time.perf_counter()
            try:
                queries[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # noqa: BLE001
                print(f"ERROR {name}: {exc}", file=sys.stderr)
                errors[name] = (str(exc) or repr(exc)).splitlines()[0]
                del samples[name]
                continue
            dt = round(time.perf_counter() - t0, 3)
            if cycle > 0:
                samples[name].append(dt)
    spark.sparkContext.setJobDescription(None)
    best = {n: min(v) for n, v in samples.items()}
    spread = {
        n: round(max(v) / max(min(v), 1e-9), 3) for n, v in samples.items()
    }
    result = {
        "metric": "bench_extra_interleaved_min_total",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "queries": best,
        "errors": errors,
        "per_rep": samples,
        "max_cycle_spread": round(max(spread.values(), default=0.0), 3),
        "spread": spread,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": CPUS,
        "cycles": cycles,
        "wall_clock_total": round(time.perf_counter() - t_all, 3),
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
