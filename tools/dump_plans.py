"""Dump .explain("formatted") for named queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python tools/dump_plans.py <tag> <suffix> [query ...]
(default queries: the bench headline set). Used by the optimization
rounds to commit before/after physical plans.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402
from bench import BENCH_QUERIES  # noqa: E402
from glirel_spark.session import get_spark  # noqa: E402
from plan_audit import formatted_plan  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or BENCH_QUERIES
    sf = "/root/testdata/sf0.1"
    out_dir = Path(__file__).resolve().parents[1] / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("dump-plans")
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, sf)
        plan = formatted_plan(df)
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
