"""Cluster entry point: spark-submit --py-files glirel_spark.zip \
    jobs/run_pipeline.py --input <sf_dir> --output <dir> [--resume]

Runs the full KG-construction pipeline (documents -> triples -> linked
graph) with bucket-granular checkpoint-resume and per-partition lineage
metrics. On a real cluster --input/--output are Iceberg identifiers via
TableIO; in the sandbox they are parquet dirs.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from glirel_spark.operators import decode as decode_ops
from glirel_spark.operators import fused, linking, scoring
from glirel_spark.operators import graph as graph_ops
from glirel_spark.plans.lineage import LineageLog, run_resumable
from glirel_spark.session import get_spark
from glirel_spark.sources import tables


def extract_bucket(docs_subset):
    """Per-bucket stage: documents -> linked triples (lexical scorer)."""
    spark = docs_subset.sparkSession
    dt = tables.text_of(docs_subset).select(
        "doc_id", F.split("text", " ").alias("tokens")
    )
    rel = fused.pairs_fused(dt).filter("is_rel")
    scored = scoring.score_pairs_lexical(rel, scoring.labels_df(spark))
    triples = decode_ops.decode(scored)
    return linking.link_triples(triples, linking.alias_df(spark))


def extract_bucket_neural(docs_subset):
    """Per-bucket stage with the tensor-plane scorer (mapInPandas) —
    the path that requires `--py-files glirel_spark.zip` to reach the
    EXECUTOR python workers, not just the driver."""
    spark = docs_subset.sparkSession
    from glirel_spark.model import udf as model_udf

    dt = tables.text_of(docs_subset).select(
        "doc_id", F.split("text", " ").alias("tokens")
    )
    triples = model_udf.neural_triples_from(fused.with_mentions(dt))
    return linking.link_triples(triples, linking.alias_df(spark))


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

    flat = tables.TableIO(spark, args.input).table("documents")
    inter = tables.interleaved_documents(flat)

    linked = run_resumable(
        spark,
        inter,
        extract_bucket_neural if args.scorer == "neural" else extract_bucket,
        out_path=f"{args.output}/linked",
        lineage_path=f"{args.output}/lineage",
        n_buckets=args.buckets,
    )
    graph = graph_ops.materialize_graph(linked)
    graph_ops.write_graph(graph, f"{args.output}/graph")

    if args.eval_report:
        from glirel_spark.operators import evaluate, report

        dt = tables.text_of(inter).select(
            "doc_id", F.split("text", " ").alias("tokens")
        )
        rel = fused.pairs_fused(dt).filter("is_rel")
        scored = scoring.score_pairs_lexical(rel, scoring.labels_df(spark)).cache()
        search = evaluate.threshold_search(scored, evaluate.gold_triples(scored))
        report.write_eval_report(search, f"{args.output}/eval")
        report.write_submission(
            decode_ops.decode(scored), f"{args.output}/eval/submission"
        )

    n_docs = flat.count()
    n_edges = spark.read.parquet(f"{args.output}/graph").count()
    wall = time.perf_counter() - t0
    metrics = LineageLog(spark, f"{args.output}/lineage").metrics()
    per_bucket = [
        {"bucket": r.bucket, "n_docs": r.n_docs, "n_triples": r.n_triples,
         "wall_sec": round(r.wall_sec, 2)}
        for r in metrics.orderBy("bucket").collect()
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
