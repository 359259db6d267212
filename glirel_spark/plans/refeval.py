"""The reference evaluation protocol, end-to-end on a reference-format
JSONL file: the exact loop run_evaluation.py / eval.py drive —

  load JSONL -> label set := the file's own relation types (the
  zero-shot protocol: labels come from the EVAL split, reference
  eval.py:236-263) -> score every candidate pair with the tensor-plane
  scorer -> threshold + top-1 decode -> keep predictions only on
  annotated pairs (J5) -> micro/macro P/R/F1 against the file's gold
  relations (J4/A1/A2).

With real exported weights (GLIREL_NUMPY_CHECKPOINT) this replays the
reference's WikiZSL/FewRel evaluation on its own data files; with the
seeded double it exercises every stage of the protocol with
deterministic numbers (tests/test_jsonl.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from glirel_spark import config
from glirel_spark.model.udf import score_pairs_neural
from glirel_spark.operators import decode as decode_ops
from glirel_spark.operators import evaluate, fixpoint
from glirel_spark.sources import jsonl


def evaluate_jsonl(
    spark: SparkSession,
    path: str,
    threshold: float = config.THRESHOLD,
) -> tuple[DataFrame, DataFrame]:
    """-> (per-label counts, micro/macro metrics row) for the file."""
    df = jsonl.read_reference_jsonl(spark, path)
    dt = jsonl.docs_tokens_from_jsonl(df)
    ments = jsonl.mentions_from_jsonl(df)
    gold = jsonl.gold_relations_from_jsonl(df)

    # zero-shot label set = the file's own relation vocabulary (small by
    # protocol definition — the reference builds one prompt from it)
    labels = sorted(
        r.label for r in gold.select("label").distinct().collect()
    )

    scored = score_pairs_neural(dt, ments, labels=labels)
    best = decode_ops.top_k_per_pair(
        decode_ops.threshold_filter(scored, threshold), 1
    )
    # back to inclusive index space for gold matching (the scorer's
    # output uses inclusive span indices already — h_start/h_end come
    # straight from the mention spans)
    preds = best.select(
        "doc_id",
        F.col("h_start"), F.col("h_end"),
        F.col("t_start"), F.col("t_end"),
        "label",
    )
    # round-6: same lineage cut as docred_neural_counts — the counts
    # consumers otherwise re-execute the neural scorer per reference.
    preds = fixpoint.materialize(evaluate.annotated_pairs_filter(preds, gold))
    counts = evaluate.per_label_counts(preds, gold)
    return counts, evaluate.micro_macro(counts)
