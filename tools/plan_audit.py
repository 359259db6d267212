"""Dump `.explain("formatted")` physical plans of named queries to a
markdown file — by default the headline set into PLANS.md, the committed
plan-audit artifact. Regenerate after any plan-affecting change:

    python tools/plan_audit.py [--sf SF_DIR] [--out PATH] [query ...]

A before/after comparison of a plan change is two runs into two paths.

Each section also reports the quick scale-smell counters the plan
guards assert in tests/test_plan_shape.py (shuffle exchanges, windows,
broadcasts, nested-loop joins, the largest generated method) so a
reader can scan the table first and read only the plans that look
wrong.

A query whose error names a file that does not exist (say, absent
reference data) is a named SKIP row, by the rule of
tools/check_oracle.py; any other exception is a named ERROR row. The
run exits 1 exactly when some query is ERROR.
"""

from __future__ import annotations

import argparse
import re
import sys
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.check_oracle import missing_path  # noqa: E402

HEADLINE = [
    "triples",
    "threshold_search",
    "graph",
    "minhash_neardups",
    "allpairs_neardups",
    "simhash",
    "ann_topk_kmeans",
    "token_blocks",
    "quality_buckets",
    "doc_chunks",
    "kg_walks",
    "kg_distant_supervision",
    "funnel_counts",
    "user_retention",
    "events_sessionized",
    "containment_pairs",
    "bm25_topk",
    "corpus_mixture",
    # round 4: interleaved payload depth
    "span_sequences",
    "caption_pairs",
    "interleaved_chunks",
    "interleaved_blocks",
    "triples_media_evidence",
    "pii_scrub",
    "media_reuse",
    # round 4: reference's own Re-DocRED data
    "docred_distant_mentions",
    "docred_distant_triples",
]


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def counters(df) -> dict[str, int]:
    from glirel_spark.functions.barrier import max_method_bytes

    # count on the executedPlan tree string (same source as the
    # test_plan_shape guards) — the "formatted" text splits node names
    # from arguments, which breaks adjacency-based counting
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "shuffles": len(re.findall(r"Exchange hashpartitioning", plan)),
        "range_exch": len(re.findall(r"Exchange rangepartitioning", plan)),
        "single_part": len(re.findall(r"Exchange SinglePartition", plan)),
        "windows": len(re.findall(r"\bWindow\b", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        "bnl_joins": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        # over barrier.JIT_METHOD_LIMIT the stage is never JIT-compiled
        "max_method_bytes": max_method_bytes(df),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*", default=HEADLINE)
    ap.add_argument("--sf", default="/root/testdata/sf0.001", help="input sf dir")
    ap.add_argument("--out", type=Path, default=REPO / "PLANS.md")
    args = ap.parse_args()
    sf_dir = args.sf

    import __spark_entry__ as entry

    from glirel_spark.session import get_spark

    spark = get_spark("plan-audit", cores=8, shuffle_partitions=8)
    queries = entry.queries()

    rows = []
    sections = []
    for name in args.queries:
        # one failing query must not hide the audit of the rest; it is
        # written as a named SKIP or ERROR row
        try:
            df = queries[name](spark, sf_dir)
            plan = formatted_plan(df)
            c = counters(df)
        except Exception as exc:  # noqa: BLE001
            path = missing_path(exc)
            if path is None:
                traceback.print_exc()
                status = "ERROR"
                why = (str(exc).strip() or type(exc).__name__).splitlines()[0]
            else:
                status, why = "SKIP", f"missing {path}"
            print(f"  {status} {name}: {why}")
            rows.append((name, status))
            sections.append(f"## {name}\n\n{status}: `{why}`\n")
            continue
        rows.append((name, c))
        sections.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")

    hdr = (
        "# Physical plan audit (generated by tools/plan_audit.py)\n\n"
        f"Input: `{sf_dir}`. Counter semantics: `shuffles` = hash\n"
        "exchanges, `single_part` = single-partition exchanges (only\n"
        "acceptable over provably tiny frames), `bnl_joins` =\n"
        "broadcast nested loops (acceptable only with a literal-ish\n"
        "build side), `cartesian` must be 0, `max_method_bytes` =\n"
        "largest generated method, which HotSpot JIT-compiles only up\n"
        "to 8,000 bytes.\n\n"
        "| query | shuffles | range_exch | single_part | windows |"
        " broadcasts | bnl_joins | cartesian | max_method_bytes |\n"
        "|---|---|---|---|---|---|---|---|---|\n"
    )
    for name, c in rows:
        if isinstance(c, str):
            hdr += f"| {name} | {c} |" + " |" * 7 + "\n"
            continue
        hdr += (
            f"| {name} | {c['shuffles']} | {c['range_exch']} |"
            f" {c['single_part']} | {c['windows']} | {c['broadcasts']} |"
            f" {c['bnl_joins']} | {c['cartesian']} | {c['max_method_bytes']} |\n"
        )
    args.out.write_text(hdr + "\n" + "\n".join(sections))
    print(f"wrote {args.out}")
    spark.stop()
    skips = [name for name, c in rows if c == "SKIP"]
    failures = [name for name, c in rows if c == "ERROR"]
    if skips:
        print("SKIPPED (missing inputs):", skips)
    if failures:
        print("FAILED:", failures)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
