"""Cluster entry point: spark-submit --py-files glirel_spark.zip \
    jobs/run_pipeline.py --input <sf_dir> --output <dir>

Runs the full KG-construction pipeline (documents -> triples -> linked
graph) with bucket-granular checkpoint-resume (re-running with the same
--output skips the buckets its lineage table records as done) and
per-partition lineage metrics. On a real cluster --input/--output are
Iceberg identifiers via TableIO; in a local run they are parquet dirs.

The buckets still to run are processed concurrently
(``lineage.run_resumable``): at most min(buckets to run, default
parallelism, driver CPUs) at once, with lineage commits serialized. A
bucket's ``wall_sec`` is its own interval, which overlaps those of the
buckets in flight with it. If a bucket fails, no further bucket
starts, the running ones commit, and the job exits with the bucket's
error; a rerun with the same --output processes the rest. The printed
``n_docs`` is the sum of the lineage table's per-bucket ``n_docs``, not
a second scan of the corpus.

Each bucket runs the same extraction plan as the pipeline queries
(``plans.api.triples_from``) and links through the literal alias map,
so with the lexical scorer at top_k=1 a bucket is one narrow stage:
no exchange, no join, no Python. ``--eval-report`` adds the
threshold-grid replay (``evaluate.threshold_search_lexical``, the plan
of the ``threshold_search`` query) and a submission taken from
``triples_from``.
"""

from __future__ import annotations

import argparse
import functools
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from glirel_spark import config
from glirel_spark.operators import fused, linking
from glirel_spark.operators import graph as graph_ops
from glirel_spark.plans import api
from glirel_spark.plans.lineage import LineageLog, run_resumable
from glirel_spark.session import get_spark
from glirel_spark.sources import tables


def extract_bucket(docs_subset, scorer: str = "lexical"):
    """Per-bucket stage: documents -> linked triples. scorer='neural' is
    the tensor-plane mapInPandas scorer, whose EXECUTOR python workers
    import glirel_spark from `--py-files glirel_spark.zip`."""
    triples = api.extract_triples(tables.docs_tokens(docs_subset), scorer=scorer)
    return linking.link_triples(triples, config.ALIAS_DICT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument(
        "--scorer", choices=["lexical", "neural"], default="lexical",
        help="neural = tensor-plane mapInPandas scorer (executor python "
        "workers import glirel_spark from --py-files)",
    )
    ap.add_argument(
        "--eval-report", action="store_true",
        help="also run the threshold-grid evaluation replay and write "
        "results.txt / tables.txt / metrics.parquet + submission JSON",
    )
    args = ap.parse_args()

    spark = get_spark("kgc-pipeline", cores=args.cores)
    t0 = time.perf_counter()

    inter = tables.interleaved_documents(
        tables.TableIO(spark, args.input).table("documents")
    )

    linked = run_resumable(
        spark,
        inter,
        functools.partial(extract_bucket, scorer=args.scorer),
        out_path=f"{args.output}/linked",
        lineage_path=f"{args.output}/lineage",
        n_buckets=args.buckets,
    )
    graph = graph_ops.materialize_graph(linked)
    graph_ops.write_graph(graph, f"{args.output}/graph")

    if args.eval_report:
        from glirel_spark.operators import evaluate, report

        # two consumers of the one gazetteer pass over the whole corpus
        dm = fused.with_mentions(tables.docs_tokens(inter)).cache()
        search = evaluate.threshold_search_lexical(fused.pairs_from(dm).filter("is_rel"))
        report.write_eval_report(search, f"{args.output}/eval")
        report.write_submission(api.triples_from(dm), f"{args.output}/eval/submission")

    n_edges = spark.read.parquet(f"{args.output}/graph").count()
    wall = time.perf_counter() - t0
    rows = LineageLog(spark, f"{args.output}/lineage").metrics().orderBy("bucket").collect()
    # every doc lands in exactly one bucket, and every bucket has one row
    n_docs = sum(r.n_docs for r in rows)
    per_bucket = [
        {"bucket": r.bucket, "n_docs": r.n_docs, "n_triples": r.n_triples,
         "wall_sec": round(r.wall_sec, 2)}
        for r in rows
    ]
    print(json.dumps({
        "n_docs": n_docs,
        "n_graph_edges": n_edges,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "buckets": per_bucket,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
