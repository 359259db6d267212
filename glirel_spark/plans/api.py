"""Production per-doc API surface, mirroring the reference's entry
points (spacy_integration.py:94-119 / model.py:493-609): take documents
+ a label dict with constraints, return relation dicts.

``triples_from`` is the one documents→triples plan builder: every
surface (the pipeline queries, the spark-submit job, the streaming twin,
the scaling harnesses) reaches the extraction plan through it.
``extract_triples`` is the DataFrame-native equivalent of
``nlp.add_pipe("glirel")`` -> doc._.relations: threshold, top-k,
constraint filtering, exclusive-end output, score-descending order keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from glirel_spark import config
from glirel_spark.operators import decode as decode_ops
from glirel_spark.operators import fused
from glirel_spark.operators import scoring as scoring_ops
from glirel_spark.operators.scoring import labels_df_from_dict


def triples_from(
    docs_ments: DataFrame,
    labels: dict[str, dict[str, list[str]]] | None = None,
    threshold: float = config.THRESHOLD,
    top_k: int = 1,
    scorer: str = "lexical",
) -> DataFrame:
    """(doc_id, tokens, _ments) -> relation table: the one place the
    extraction plan is chosen, and the one place a caller picks
    ``top_k`` (labels kept per entity pair; 1 is the reference's eval
    setting, config_wiki_zsl.yaml:62). scorer='lexical' | 'neural'.

    - neural: ``udf.neural_triples_from`` (scores and decodes at any k
      inside one mapInPandas);
    - lexical k=1: the fused per-row label argmax — the lexical label
      terms are literals, so it is one narrow projection, zero
      exchanges, for ANY label dict;
    - lexical k>1: crossJoin(labels) then the payload decode. The scored
      relation already carries the mention surfaces and the constraint
      arrays, and the map-side-combined argmax collapses each pair to
      one pre-shuffle row, so no enrichment join follows (measured at
      320k docs, BENCH/BASELINE.md: faster at 1 and 4 executors than
      decoding key-only rows and joining texts back).

    Docs with < 2 mentions fall out naturally (no pairs; the reference
    requires >= 2 entities, spacy_integration.py:96-99). An empty label
    dict yields an empty relation table of the same schema. No cache is
    added here: each plan reads ``docs_ments`` once, so callers decide
    what to materialize. ``top_k`` < 1 raises ValueError: the scorers
    would otherwise read it differently (the relational rank filter
    keeps nothing, the in-UDF rank slice counts from the end).
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    spark = docs_ments.sparkSession
    label_dict = labels if labels is not None else config.RELATION_LABELS
    if not label_dict:
        return spark.createDataFrame([], decode_ops.TRIPLES_SCHEMA)
    if scorer == "neural":
        from glirel_spark.model import udf

        return udf.neural_triples_from(docs_ments, threshold, top_k, label_dict)
    rel = fused.pairs_from(docs_ments).filter("is_rel")
    if top_k == 1:
        return scoring_ops.lexical_topk1_triples(rel, label_dict, threshold)
    scored = scoring_ops.score_pairs_lexical(rel, labels_df_from_dict(spark, label_dict))
    return decode_ops.decode(scored, threshold, top_k)


def extract_triples(
    docs_tokens: DataFrame,
    labels: dict[str, dict[str, list[str]]] | None = None,
    threshold: float = config.THRESHOLD,
    top_k: int = 1,
    scorer: str = "lexical",
) -> DataFrame:
    """documents (doc_id, tokens) -> relation table (``triples_from``
    over the gazetteer/hygiene mention pass)."""
    return triples_from(
        fused.with_mentions(docs_tokens), labels, threshold, top_k, scorer
    )


def as_relation_dicts(triples: DataFrame) -> DataFrame:
    """Reference output record shape (model.py:587-604):
    {head_pos, tail_pos, head_text, tail_text, label, score} with
    exclusive end positions, presentation-sorted by score desc (W2)."""
    return triples.select(
        "doc_id",
        F.array("head_start", "head_end").alias("head_pos"),
        F.array("tail_start", "tail_end").alias("tail_pos"),
        "head_text",
        "tail_text",
        "label",
        F.col("prob").alias("score"),
    ).orderBy("doc_id", F.desc("score"), "label")


def curriculum_sort(annotated: DataFrame) -> DataFrame:
    """W4 (train.py:623): docs ordered by #relations ascending."""
    return annotated.orderBy(F.size("relations"), "doc_id")
