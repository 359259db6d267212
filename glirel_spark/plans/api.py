"""Production per-doc API surface, mirroring the reference's entry
points (spacy_integration.py:94-119 / model.py:493-609): take documents
+ a label dict with constraints, return relation dicts.

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


def extract_triples(
    docs_tokens: DataFrame,
    labels: dict[str, dict[str, list[str]]] | None = None,
    threshold: float = config.THRESHOLD,
    top_k: int = config.TOP_K,
    scorer: str = "lexical",
) -> DataFrame:
    """documents (doc_id, tokens) -> relation table.

    The reference requires >= 2 entities per doc
    (spacy_integration.py:96-99) — docs with < 2 mentions fall out
    naturally (no pairs). scorer='lexical' | 'neural'. An empty label
    dict yields an empty relation table of the same schema.
    """
    spark = docs_tokens.sparkSession
    label_dict = labels if labels is not None else config.RELATION_LABELS
    if not label_dict:
        return spark.createDataFrame([], decode_ops.TRIPLES_SCHEMA)
    # one cached gazetteer/hygiene pass feeds the pair subtree AND the
    # decode enrichment (plan-keyed cache, shared with pipeline.docs_ments
    # when called on the same docs_tokens plan)
    dm = fused.with_mentions(docs_tokens).cache()
    if scorer == "neural":
        from glirel_spark.model import udf

        return udf.neural_triples_from(dm, threshold, top_k, label_dict)
    rel = fused.pairs_from(dm).filter("is_rel")
    if top_k == 1:
        # fused per-row label argmax (round-6): works for ANY label dict
        # because the lexical label terms are literals — zero exchanges
        return scoring_ops.lexical_topk1_triples(rel, label_dict, threshold)
    ldf = labels_df_from_dict(spark, label_dict)
    scored = scoring_ops.score_pairs_lexical(rel, ldf)
    return decode_ops.decode(
        scored, threshold, top_k,
        mention_texts=fused.mentions_from(dm), labels=ldf,
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
