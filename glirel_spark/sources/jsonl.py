"""Reference-format JSONL ingestion (S1): the EXACT file format the
reference trains/evaluates on (reference README.md:150-185,
data/sample.jsonl; loader seeds eval.py:236-248, train.py:581-592) —

    {"tokenized_text": [...],
     "ner": [[start, end, type, text], ...],            # end-INCLUSIVE
     "relations": [{"head": {"position": [s, e], ...},
                    "tail": {...}, "relation_text": ...}, ...]}

so a reference user can point their existing JSONL at this engine and
run extraction/evaluation unchanged. Documents are content-addressed
(doc_id = sha1 of the raw line): deterministic, distributed, no
row-numbering shuffle; byte-identical duplicate lines collapse to one
document, which matches the reference's dedup hygiene
(utils.py:6-36).

The ``ner`` element is a heterogeneous JSON array ([int, int, str,
str]); it is read as array<string> (Spark coerces the numbers) and
cast back — the only schema wrinkle in the format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

_POS = "struct<mention:string, position:array<int>, type:string>"
SCHEMA = (
    "tokenized_text array<string>, "
    "ner array<array<string>>, "
    f"relations array<struct<head:{_POS}, tail:{_POS}, "
    "relation_id:string, relation_text:string>>"
)


def _parsed(spark: SparkSession, path: str) -> DataFrame:
    raw = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    return raw.select(
        "value",
        F.sha1(F.col("value")).alias("doc_id"),
        F.from_json("value", SCHEMA).alias("j"),
    ).dropDuplicates(["doc_id"])


def read_reference_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Valid documents only. A 100 TB crawl ingest WILL contain mangled
    lines; ``from_json`` maps them to a null struct, and silently
    carrying null-token documents downstream poisons every per-doc
    operator — so unparseable lines (bad JSON, or JSON missing
    tokenized_text) are dropped here and surfaced by
    ``corrupt_reference_jsonl`` instead, the distributed analogue of
    spark.read's badRecordsPath quarantine."""
    parsed = _parsed(spark, path).filter(F.col("j.tokenized_text").isNotNull())
    return parsed.select("doc_id", "j.tokenized_text", "j.ner", "j.relations")


def corrupt_reference_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """(doc_id, value) for every non-empty line read_reference_jsonl
    rejected — write this to a quarantine sink and alert on its count;
    a map-only scan, no join against the valid side needed."""
    return (
        _parsed(spark, path)
        .filter(F.col("j.tokenized_text").isNull())
        .select("doc_id", "value")
    )


def docs_tokens_from_jsonl(df: DataFrame) -> DataFrame:
    """(doc_id, tokens) — the engine's docs_tokens shape."""
    return df.select("doc_id", F.col("tokenized_text").alias("tokens"))


def mentions_from_jsonl(df: DataFrame) -> DataFrame:
    """(doc_id, start, end, type, text) — end-INCLUSIVE, the engine's
    mentions shape; external NER replaces the gazetteer stage, exactly
    the external-annotations path model/udf.neural_triples serves."""
    m = df.select("doc_id", F.explode("ner").alias("n"))
    spans = m.select(
        "doc_id",
        F.element_at("n", 1).cast("int").alias("start"),
        F.element_at("n", 2).cast("int").alias("end"),
        F.element_at("n", 3).alias("type"),
        F.element_at("n", 4).alias("text"),
    )
    # same span annotated twice with different (type, text): resolve
    # DETERMINISTICALLY (min over the struct order), not by whichever
    # row dropDuplicates happens to keep under the current partitioning
    # (ADVICE r2 — the engine's determinism contract).
    return (
        spans.groupBy("doc_id", "start", "end")
        .agg(F.min(F.struct("type", "text")).alias("_tt"))
        .select("doc_id", "start", "end", "_tt.type", "_tt.text")
    )


def gold_relations_from_jsonl(df: DataFrame) -> DataFrame:
    """(doc_id, h_start, h_end, t_start, t_end, label) gold feed —
    inclusive indices, ready for the J2/J4 gold machinery."""
    r = df.select("doc_id", F.explode("relations").alias("r"))
    return r.select(
        "doc_id",
        F.col("r.head.position")[0].alias("h_start"),
        F.col("r.head.position")[1].alias("h_end"),
        F.col("r.tail.position")[0].alias("t_start"),
        F.col("r.tail.position")[1].alias("t_end"),
        F.col("r.relation_text").alias("label"),
    ).dropDuplicates()
