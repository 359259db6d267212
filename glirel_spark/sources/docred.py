"""Re-DocRED source: run the reference repo's OWN evaluation data
through the engine.

The reference ships Re-DocRED dev/test splits (reference
data/re-docred/data/{dev,test}_revised.json: 500 docs each of
sentence-tokenized text, a typed entity ``vertexSet``, and gold
relation ``labels`` keyed by Wikidata property id) and the full
Wikidata property dictionary (data/all_wikidata_properties.json,
11,665 rows). Its run_evaluation.py consumes exactly these files
(reference data/re-docred/run_evaluation.py:28-43, 124-127). This
module ingests the same files into DataFrames with the engine's
conventions: global token positions derived from per-sentence
positions (reference utils.py applies the same sent-offset fold when
flattening DocRED-style inputs), entity ids that index the vertexSet,
and gold triples joined to human-readable predicate labels.

Scale notes: the files are JSON ARRAYS, so a single multiLine read is
unsplittable — correct for the 500-doc eval splits this mirrors; a
production corpus in this shape would be converted to JSONL (one doc
per line, splittable) by one pass of this same reader + write. The
property dictionary is a classic broadcast dimension (11k rows, never
shuffled). Global offsets are row-local prefix sums (F.aggregate over
``sents``), no explode until the mention/label tables are requested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import broadcast

from glirel_spark.config import DOCRED_DEV, DOCRED_TEST, WIKIDATA_PROPERTIES

_SCHEMA = (
    "title string, "
    "sents array<array<string>>, "
    "vertexSet array<array<struct<"
    "type:string, pos:array<bigint>, name:string, sent_id:bigint, "
    "global_pos:array<bigint>, index:string>>>, "
    "labels array<struct<r:string, h:bigint, t:bigint, evidence:array<bigint>>>"
)


def read_docred(spark: SparkSession, path: str = DOCRED_DEV) -> DataFrame:
    """DocRED-format JSON array -> one row per document (explicit
    schema: no inference pass over the nested file)."""
    return spark.read.json(path, schema=_SCHEMA, multiLine=True)


def read_docred_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL-converted DocRED corpus -> one row per document. Same
    explicit schema as read_docred, but the input is one doc per line,
    so the scan is SPLITTABLE: Spark assigns line-aligned byte ranges
    of each file to separate tasks (no multiLine, no single-task
    whole-file parse)."""
    return spark.read.json(path, schema=_SCHEMA)


def docred_to_jsonl(
    spark: SparkSession, in_path: str, out_path: str, num_files: int = 32
) -> DataFrame:
    """The production ingestion path for DocRED-shaped corpora
    (module docstring: a JSON ARRAY file is unsplittable, fine for the
    500-doc eval splits, wrong for a 10^12-doc corpus): ONE
    unsplittable pass per input file converts it to JSONL, after which
    every downstream job re-reads splittably via read_docred_jsonl.
    The conversion is schema-preserving and row-identical — proven by
    tests/test_docred.py::test_docred_to_jsonl_roundtrip.

    ``num_files`` spreads the output over that many files so the
    re-read parallelizes even before any file exceeds
    spark.sql.files.maxPartitionBytes (a round-robin repartition —
    document order carries no meaning in this corpus, and every
    downstream operator keys on doc title, not position). At real
    scale the input arrives as MANY array files (one per upstream
    shard), so the conversion itself also parallelizes: one task per
    input file. Returns the re-read DataFrame."""
    docs = read_docred(spark, in_path)
    docs.repartition(num_files).write.mode("overwrite").json(out_path)
    return read_docred_jsonl(spark, out_path)


def read_wikidata_properties(
    spark: SparkSession, path: str = WIKIDATA_PROPERTIES
) -> DataFrame:
    """(pid, pred_label) broadcast dimension from the reference's
    property dictionary; pid extracted from the entity URI tail."""
    raw = spark.read.json(path, multiLine=True)
    return raw.select(
        F.regexp_extract("property", r"P[0-9]+$", 0).alias("pid"),
        F.col("propertyLabel").alias("pred_label"),
    )


def _sent_offsets() -> "F.Column":
    """Row-local prefix sums of sentence lengths: offs[k] (1-based
    element_at k+1) = tokens before sentence k."""
    return F.aggregate(
        F.col("sents"),
        F.array(F.lit(0).cast("long")),
        lambda acc, s: F.concat(acc, F.array(F.element_at(acc, -1) + F.size(s))),
    )


def docred_mentions(docs: DataFrame) -> DataFrame:
    """Flattened mention table with GLOBAL token positions:
    (doc_title, entity_id, mention_idx, type, name, sent_id,
    start_tok, end_tok). entity_id indexes the vertexSet (what
    ``labels.h/t`` refer to); positions are document-global
    (sentence offset + sentence-local pos), end-exclusive as in
    DocRED. Pure narrow plan: prefix sums + two posexplodes, zero
    exchanges."""
    with_offs = docs.withColumn("_offs", _sent_offsets())
    ents = with_offs.select(
        F.col("title").alias("doc_title"),
        "_offs",
        F.posexplode("vertexSet").alias("entity_id", "_ms"),
    )
    men = ents.select(
        "doc_title",
        F.col("entity_id").cast("long").alias("entity_id"),
        "_offs",
        F.posexplode("_ms").alias("mention_idx", "m"),
    )
    off = F.element_at("_offs", F.col("m.sent_id").cast("int") + 1)
    return men.select(
        "doc_title",
        "entity_id",
        F.col("mention_idx").cast("long").alias("mention_idx"),
        F.col("m.type").alias("type"),
        F.col("m.name").alias("name"),
        F.col("m.sent_id").alias("sent_id"),
        (off + F.element_at("m.pos", 1)).cast("long").alias("start_tok"),
        (off + F.element_at("m.pos", 2)).cast("long").alias("end_tok"),
    )


def docred_entities(docs: DataFrame) -> DataFrame:
    """(doc_title, entity_id, type, name): one row per vertexSet entry,
    typed and named by its FIRST mention (the reference's convention).
    Names resolve in-row before any explode output leaves the stage."""
    ents = docs.select(
        F.col("title").alias("doc_title"),
        F.posexplode("vertexSet").alias("entity_id", "ms"),
    )
    first = F.element_at("ms", 1)
    return ents.select(
        "doc_title",
        F.col("entity_id").cast("long").alias("entity_id"),
        first["type"].alias("type"),
        first["name"].alias("name"),
    )


def docred_pairs(docs: DataFrame) -> DataFrame:
    """The relation-classification INPUT table the reference's data
    loader constructs over this file: every ordered entity pair per
    document (h != t), labeled with its gold relation set ('' = NOTA —
    the no-relation class; multi-label pairs keep ALL pids, sorted and
    '|'-joined so the row stays one pair). This is J1 pair generation +
    J2 gold labeling + SO1's positive/NOTA split signal on the
    reference's own evaluation data.

    Scale shape: one co-partitioned self-join on doc_title (the
    canonical pair-gen shuffle — both sides hash on the same key) over
    the slim (id, type, name) entity projection; gold labels aggregate
    to one row per (doc, h, t) before a same-key left join, so no row
    multiplication from multi-label pairs."""
    e = docred_entities(docs)
    lab = docs.select(
        F.col("title").alias("doc_title"), F.explode("labels").alias("l")
    ).select(
        "doc_title",
        F.col("l.h").alias("h"),
        F.col("l.t").alias("t"),
        F.col("l.r").alias("pid"),
    )
    gold = lab.groupBy("doc_title", "h", "t").agg(
        F.array_join(F.array_sort(F.collect_list("pid")), "|").alias("gold_pids"),
        F.count(F.lit(1)).cast("long").alias("n_gold"),
    )
    h = e.select(
        "doc_title",
        F.col("entity_id").alias("h_id"),
        F.col("type").alias("h_type"),
        F.col("name").alias("h_name"),
    )
    t = e.select(
        "doc_title",
        F.col("entity_id").alias("t_id"),
        F.col("type").alias("t_type"),
        F.col("name").alias("t_name"),
    )
    pairs = h.join(t, "doc_title").filter(F.col("h_id") != F.col("t_id"))
    out = pairs.join(
        gold,
        (pairs.doc_title == gold.doc_title)
        & (pairs.h_id == gold.h)
        & (pairs.t_id == gold.t),
        "left",
    )
    return out.select(
        pairs.doc_title,
        "h_id",
        "t_id",
        "h_type",
        "t_type",
        "h_name",
        "t_name",
        F.coalesce("gold_pids", F.lit("")).alias("gold_pids"),
        F.coalesce("n_gold", F.lit(0).cast("long")).alias("n_gold"),
    )


def docred_gazetteer(docs: DataFrame) -> DataFrame:
    """(surface, n, types): the distinct mention names of the corpus as
    a matching dimension — name token count and the sorted '|'-joined
    set of entity types the name occurs with. 8k rows on the dev
    split: a classic broadcast dimension."""
    men = docs.select(F.explode(F.flatten("vertexSet")).alias("m"))
    return (
        men.groupBy(F.col("m.name").alias("surface"))
        .agg(
            F.array_join(F.array_sort(F.collect_set("m.type")), "|").alias("types")
        )
        .withColumn("n", F.size(F.split("surface", " ")).cast("long"))
    )


def docred_distant_mentions(
    docs: DataFrame, max_gazetteer_len: int | None = None
) -> DataFrame:
    """Distant-supervision mention DETECTION over the real text: every
    occurrence of any corpus entity name in any document —
    (doc_title, start_tok, end_tok, surface, types), end-exclusive
    global token positions. This is the stage the engine's synthetic
    gazetteer mentions stand in for, run on the reference's own
    documents with a corpus-derived variable-length gazetteer (name
    lengths 1..14 on the dev split), and it surfaces the cross-document
    matches (a name annotated in doc A found verbatim in doc B) that
    distant supervision mines for training pairs.

    Scale shape: candidates are n-grams generated row-locally for each
    DISTINCT gazetteer length (a 13-row broadcast), then one equi-join
    against the broadcast name dimension — no shuffle of the corpus at
    all. The candidate blow-up factor is |distinct gazetteer lengths|.

    ``max_gazetteer_len`` bounds that blow-up for production corpora:
    names longer than the cap are dropped from the gazetteer BEFORE
    the length dimension is built, so the per-document candidate count
    is at most ``sum_{n<=cap, n in lengths}(|toks| - n + 1)
    <= cap * |toks|`` — independent of how long the longest entity
    name is. The trade is recall on long-name gold mentions only: on
    the dev split cap=4 cuts candidates 3.2x (1,286,110 -> 404,880)
    and keeps 96.9% of the gold the uncapped gazetteer reaches
    (recall 0.9804 -> 0.9496) — see
    tests/test_docred.py::test_distant_mentions_gazetteer_cap and the
    BASELINE.md recall-trade table. Default None = uncapped, the
    eval-split setting."""
    gaz = docred_gazetteer(docs)
    if max_gazetteer_len is not None:
        gaz = gaz.filter(F.col("n") <= F.lit(int(max_gazetteer_len)))
    lens = gaz.select("n").distinct()
    toks_df = docs.select(
        F.col("title").alias("doc_title"), F.flatten("sents").alias("toks")
    )
    with_n = toks_df.join(broadcast(lens))
    size, n = F.size("toks").cast("long"), F.col("n")
    starts = F.when(
        size >= n, F.sequence(F.lit(0).cast("long"), size - n)
    ).otherwise(F.array().cast("array<long>"))
    cand = with_n.select(
        "doc_title",
        "n",
        "toks",
        F.explode(starts).alias("start_tok"),
    ).select(
        "doc_title",
        "n",
        "start_tok",
        F.array_join(
            F.slice("toks", F.col("start_tok").cast("int") + 1, n.cast("int")), " "
        ).alias("surface"),
    )
    return cand.join(broadcast(gaz), ["surface", "n"]).select(
        "doc_title",
        "start_tok",
        (F.col("start_tok") + F.col("n")).alias("end_tok"),
        "surface",
        "types",
    )


def docred_distant_triples(docs: DataFrame) -> DataFrame:
    """KG construction from raw text by DISTANT SUPERVISION on the
    reference's own corpus, end to end: detect mentions in the text
    (docred_distant_mentions), pair names co-occurring in a document,
    and label a pair with relation r iff (h_name, r, t_name) is a gold
    triple ANYWHERE in the corpus — the classic distant-supervision
    assumption. Output one row per name-level triple:
    (h_name, pid, t_name, n_support_docs, n_new_docs) where
    n_support_docs counts documents whose text supports the triple and
    n_new_docs counts supporting documents that are NOT among the
    triple's own gold-annotation documents — the genuinely NEW
    evidence distant supervision exists to find. Self-relations
    (h_name == t_name gold triples, 7 of 17,284) are out of scope of
    name-level pairing and excluded.

    Scale shape: the mention table pairs through ONE co-partitioned
    doc_title self-join (names only, the corpus text stays behind);
    the gold-triple dictionary (16,826 name-level triples + their doc
    lists) broadcasts; one final groupBy on the triple key."""
    dm = (
        docred_distant_mentions(docs)
        .select("doc_title", "surface")
        .distinct()
    )
    a = dm.select("doc_title", F.col("surface").alias("h_name"))
    b = dm.select("doc_title", F.col("surface").alias("t_name"))
    pairs = a.join(b, "doc_title").filter(F.col("h_name") != F.col("t_name"))

    lab = docs.select(
        F.col("title").alias("gold_doc"),
        "vertexSet",
        F.explode("labels").alias("l"),
    )
    h_name = F.element_at(
        F.element_at("vertexSet", F.col("l.h").cast("int") + 1), 1
    )["name"]
    t_name = F.element_at(
        F.element_at("vertexSet", F.col("l.t").cast("int") + 1), 1
    )["name"]
    gold = (
        lab.select(
            h_name.alias("h_name"),
            F.col("l.r").alias("pid"),
            t_name.alias("t_name"),
            "gold_doc",
        )
        .filter(F.col("h_name") != F.col("t_name"))
        .groupBy("h_name", "pid", "t_name")
        .agg(F.collect_set("gold_doc").alias("gold_docs"))
    )

    sup = pairs.join(broadcast(gold), ["h_name", "t_name"])
    is_new = ~F.array_contains("gold_docs", F.col("doc_title"))
    return sup.groupBy("h_name", "pid", "t_name").agg(
        F.countDistinct("doc_title").cast("long").alias("n_support_docs"),
        F.countDistinct(F.when(is_new, F.col("doc_title")))
        .cast("long")
        .alias("n_new_docs"),
    )


def docred_type_prior_eval(
    docs: DataFrame, prior_docs: DataFrame | None = None
) -> DataFrame:
    """The reference's evaluation protocol (J2 gold labeling, J5
    annotated-pairs-only filter, J4 TP matching, A1 micro metrics)
    replayed END-TO-END on its own Re-DocRED data, scored with a
    deterministic type-prior baseline: predict, for each annotated
    pair, the modal gold pid of its (h_type, t_type) signature (ties
    broken by min pid). One row out: (pred_n, true_n, tp,
    precision_micro, recall_micro, f1_micro) — micro-F1 computed as
    2*tp/(pred_n+true_n), a single exactly-rounded division so the
    DuckDB twin is bit-identical.

    ``prior_docs`` selects where the prior is LEARNED: default None
    fits it on ``docs`` itself (in-sample — a protocol demonstration,
    not a generalization claim); pass the dev split while evaluating
    the test split for the honest held-out number (the gated
    ``docred_eval_xsplit`` query: dev-fit prior scores test at
    micro-F1 0.4773, marginally ABOVE the 0.4693 in-sample dev
    number — the type prior carries across splits).

    This is the in-sandbox stand-in for the real-checkpoint agreement
    measurement (BASELINE.json P/R target): the entire protocol plane
    runs on real reference data; only the scorer is the baseline.

    Scale shape: two co-partitioned (doc_title, entity_id) joins to
    type the gold pairs, one small groupBy for the prior (|type
    signatures| x |pids| rows), a broadcast join to predict, one
    final single-row aggregate."""
    def typed_gold(d: DataFrame) -> DataFrame:
        e = docred_entities(d)
        lab = d.select(
            F.col("title").alias("doc_title"), F.explode("labels").alias("l")
        ).select(
            "doc_title",
            F.col("l.h").alias("h"),
            F.col("l.t").alias("t"),
            F.col("l.r").alias("pid"),
        )
        h = e.select("doc_title", F.col("entity_id").alias("h"),
                     F.col("type").alias("h_type"))
        t = e.select("doc_title", F.col("entity_id").alias("t"),
                     F.col("type").alias("t_type"))
        return lab.join(h, ["doc_title", "h"]).join(t, ["doc_title", "t"])

    typed = typed_gold(docs)
    prior_typed = typed if prior_docs is None else typed_gold(prior_docs)

    by_sig = prior_typed.groupBy("h_type", "t_type", "pid").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    prior = by_sig.groupBy("h_type", "t_type").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("pid")))["pid"]
        .alias("pred_pid")
    )

    annotated = typed.groupBy("doc_title", "h", "t", "h_type", "t_type").agg(
        F.collect_list("pid").alias("gold")
    )
    # LEFT join: a type signature unseen when the prior was fit yields
    # no prediction — its gold labels still count in true_n (recall
    # denominator), exactly like an abstaining scorer. In-sample this
    # is an inner join by construction.
    pred = annotated.join(broadcast(prior), ["h_type", "t_type"], "left")
    agg = pred.agg(
        F.sum(
            F.when(F.col("pred_pid").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("pred_n"),
        F.sum(F.size("gold")).cast("long").alias("true_n"),
        F.sum(
            F.when(F.array_contains("gold", F.col("pred_pid")), 1).otherwise(0)
        ).cast("long").alias("tp"),
    )
    tp, pn, tn = F.col("tp"), F.col("pred_n"), F.col("true_n")
    return agg.select(
        "pred_n", "true_n", "tp",
        (tp.cast("double") / pn.cast("double")).alias("precision_micro"),
        (tp.cast("double") / tn.cast("double")).alias("recall_micro"),
        ((2 * tp).cast("double") / (pn + tn).cast("double")).alias("f1_micro"),
    )


def docred_gold_triples(docs: DataFrame, properties: DataFrame) -> DataFrame:
    """Gold triples with resolved surface forms + predicate labels:
    (doc_title, h_name, pid, pred_label, t_name, n_evidence).
    Head/tail names are the entity's FIRST mention (the reference's
    own convention when it prints triples). One explode + one
    broadcast join against the 11k-row property dimension — the
    vertexSet never shuffles (element_at resolves names in-row
    before the explode output leaves the stage)."""
    lab = docs.select(
        F.col("title").alias("doc_title"),
        "vertexSet",
        F.explode("labels").alias("l"),
    )
    h_name = F.element_at(F.element_at("vertexSet", F.col("l.h").cast("int") + 1), 1)["name"]
    t_name = F.element_at(F.element_at("vertexSet", F.col("l.t").cast("int") + 1), 1)["name"]
    flat = lab.select(
        "doc_title",
        h_name.alias("h_name"),
        F.col("l.r").alias("pid"),
        t_name.alias("t_name"),
        F.size("l.evidence").cast("long").alias("n_evidence"),
    )
    return flat.join(broadcast(properties), "pid", "left").select(
        "doc_title", "h_name", "pid", "pred_label", "t_name", "n_evidence"
    )

# --------------------------------------------------------------------------
# Neural double under the Re-DocRED protocol: the GLiREL-architecture
# deterministic scorer runs over the real evaluation corpus and is
# scored through the SAME J5/J4/A1-A3 plane as the type-prior baseline
# (docred_type_prior_eval) — so prior-vs-model compare on identical
# real data. Reference protocol: data/re-docred/run_evaluation.py:
# 124-184 (predictions matched to gold (h, t, r) per document; here
# entity identity is carried by the entity's FIRST mention span, the
# reference's own convention when it surfaces entities).
# --------------------------------------------------------------------------


def docred_entity_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, entity_id, start, end): each entity's FIRST mention as
    a document-GLOBAL, end-INCLUSIVE span — the engine's mention
    convention (the scorer's span_reps gathers inclusive indices).
    Row-local prefix sums + one posexplode, zero exchanges."""
    with_offs = docs.withColumn("_offs", _sent_offsets())
    ents = with_offs.select(
        F.col("title").alias("doc_id"),
        "_offs",
        F.posexplode("vertexSet").alias("entity_id", "ms"),
    )
    first = F.element_at("ms", 1)
    off = F.element_at("_offs", first["sent_id"].cast("int") + 1)
    return ents.select(
        "doc_id",
        F.col("entity_id").cast("long").alias("entity_id"),
        (off + F.element_at(first["pos"], 1)).cast("int").alias("start"),
        (off + F.element_at(first["pos"], 2) - 1).cast("int").alias("end"),
    )


def docred_gold_span_labels(docs: DataFrame) -> DataFrame:
    """Gold relation instances keyed by first-mention span positions:
    (doc_id, h_start, h_end, t_start, t_end, label) with label = the
    Wikidata pid — the shape the engine's J4/J5 evaluation plane
    (operators/evaluate.py) consumes. Two co-partitioned (doc_id,
    entity_id) joins against the slim span projection."""
    sp = docred_entity_spans(docs)
    lab = docs.select(
        F.col("title").alias("doc_id"), F.explode("labels").alias("l")
    ).select(
        "doc_id",
        F.col("l.h").alias("h"),
        F.col("l.t").alias("t"),
        F.col("l.r").alias("label"),
    )
    h = sp.select(
        "doc_id", F.col("entity_id").alias("h"),
        F.col("start").alias("h_start"), F.col("end").alias("h_end"),
    )
    t = sp.select(
        "doc_id", F.col("entity_id").alias("t"),
        F.col("start").alias("t_start"), F.col("end").alias("t_end"),
    )
    return (
        lab.join(h, ["doc_id", "h"]).join(t, ["doc_id", "t"])
        .select("doc_id", "h_start", "h_end", "t_start", "t_end", "label")
    )


def docred_corpus_pids(docs: DataFrame) -> list[str]:
    """The corpus relation vocabulary (sorted pids) — the label set the
    scorer's prompt carries. Bounded collect: 95 rows on the dev split
    (the same bounded-labels pattern as the zero-shot replay,
    plans/refeval.py)."""
    rows = (
        docs.select(F.explode("labels").alias("l"))
        .select(F.col("l.r").alias("pid"))
        .distinct()
        .collect()
    )
    return sorted(r["pid"] for r in rows)


def docred_neural_counts(docs: DataFrame) -> DataFrame:
    """Per-label tp/pred_n/true_n of the GLiREL-architecture
    deterministic double on the real Re-DocRED corpus, under the
    reference's evaluation protocol (run_evaluation.py:124-184):

    - the scorer sees each document's real text plus all entity
      first-mention spans and the full 95-pid corpus vocabulary as its
      prompt (zero-shot form: the labels travel with the document);
    - prediction per entity pair = argmax label (top-1 decode,
      tie-break prob desc / pid asc — decode.top_k_per_pair's k=1
      map-side-combined aggregation, so the (pair x label) relation
      collapses to one slim row per pair before any shuffle);
    - J5 annotated-pairs-only filter, J4 TP matching, A3 per-label
      counts (operators/evaluate.py — the exact plane the synthetic
      eval_counts query runs).

    Scale shape: one mapInPandas scorer stage over per-document rows
    (process-singleton model), one map-side-combined argmax exchange,
    two semi-joins against the slim gold relation. At production scale
    nothing here is corpus-cardinality-quadratic: pairs are per-doc.
    """
    from glirel_spark.model import udf as model_udf
    from glirel_spark.operators import decode as decode_ops
    from glirel_spark.operators import evaluate, fixpoint

    pids = docred_corpus_pids(docs)
    toks = docs.select(
        F.col("title").alias("doc_id"), F.flatten("sents").alias("tokens")
    )
    spans = docred_entity_spans(docs).select("doc_id", "start", "end")
    scored = model_udf.score_pairs_neural(
        toks, spans, labels=pids, max_distance=None
    )
    preds = decode_ops.top_k_per_pair(scored, 1).select(
        "doc_id", "h_start", "h_end", "t_start", "t_end", "label"
    )
    gold = docred_gold_span_labels(docs)
    # round-6: per_label_counts references the prediction relation three
    # times (tp / pred_n / label-vocabulary union) and each reference
    # re-executed the neural mapInPandas scorer — cut the lineage once
    # (the scored predictions ARE the materialized artifact a real
    # eval run writes before counting).
    annotated = fixpoint.materialize(evaluate.annotated_pairs_filter(preds, gold))
    return evaluate.per_label_counts(annotated, gold)


def docred_neural_eval(docs: DataFrame) -> DataFrame:
    """A1/A2 micro+macro metrics of the neural double on Re-DocRED —
    one row (micro_precision, micro_recall, micro_f1, macro_precision,
    macro_recall, macro_f1) through the same sorted-fold arithmetic as
    the synthetic eval_metrics query, so the division/macro plane is
    cross-engine-checked against DuckDB recomputing the metrics from
    the committed counts."""
    from glirel_spark.operators import evaluate

    return evaluate.micro_macro(docred_neural_counts(docs))
