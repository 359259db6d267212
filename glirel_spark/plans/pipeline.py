"""End-to-end plan assembly: documents -> tokens -> mentions -> pairs ->
scored -> triples (the flagship extraction pipeline).

Each stage is a function DataFrame -> DataFrame so Catalyst sees one
logical plan end-to-end and can push filters/pruning across stage
boundaries. The interleaved-spans representation (BASELINE.json
input_hint) is the canonical input; the flat driver parquet is converted
via a narrow, deterministic synthesis (sources/tables.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from glirel_spark import config
from glirel_spark.operators import fixpoint
from glirel_spark.operators import scoring as scoring_ops
from glirel_spark.plans import api
from glirel_spark.sources import tables


def _interleaved_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = tables.TableIO(spark, sf_dir).table("documents")
    target = spark.sparkContext.defaultParallelism
    # the read already listed the files; asking the scan for its
    # partition count would plan it on the driver at every build
    if len(flat.inputFiles()) < target:
        flat = flat.repartition(target)
    return tables.interleaved_documents(flat)


def interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved corpus, MATERIALIZED (cached).

    Two scale-critical properties (see BENCH/BASELINE.md notes):
    1. the sandbox corpus is one small parquet file -> ONE input split;
       a round-robin repartition to ``defaultParallelism`` spreads the
       per-doc array work across cores whenever the read has fewer
       files than that (a real 10^12-doc table arrives in thousands of
       files and skips it). The neural scorer reads that spread as its
       own (model/udf.py), so the corpus is shuffled once;
    2. the spans/tokens arrays must be REAL columns, not expression
       aliases: Catalyst inlines alias references, so a downstream
       lambda indexing `tokens[i]` would re-evaluate the whole
       split+interleave chain per element — O(n^2) per row (measured:
       minutes instead of seconds at sf0.1). cache() pins the computed
       arrays; on a cluster this is "write the tokenized corpus as a
       table", the standard stage boundary.

    Spark's cache manager keys on the logical plan, so every query in
    the session shares one cache entry per sf_dir.
    """
    return _interleaved_plan(spark, sf_dir).cache()


def _docs_tokens_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.docs_tokens(_interleaved_plan(spark, sf_dir))


def docs_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id string, tokens array<string>) from the interleaved corpus
    (``tables.docs_tokens``), cached."""
    return _docs_tokens_plan(spark, sf_dir).cache()


def _docs_ments_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import fused

    return fused.with_mentions(_docs_tokens_plan(spark, sf_dir))


def docs_ments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tokens, _ments) — the gazetteer/hygiene pass,
    MATERIALIZED (cached) for the lexical queries. The mention table,
    the pair table, and the decode enrichment all derive from it, so one
    cache entry (plan-keyed, shared across every query in the session)
    replaces three recomputations. On a cluster this is "write the
    mention-annotated corpus as a table". It caches the uncached token
    plan (with_mentions fences its own arrays), so a job that reads only
    this pass builds one cache; the cache manager still substitutes a
    ``docs_tokens`` or ``interleaved`` cache that another query built
    (tests/test_plan_shape.py). ``triples_neural`` reads the same plan
    uncached: its one scan feeds one scorer."""
    return _docs_ments_plan(spark, sf_dir).cache()


def mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused per-doc plan (operators/fused.py): zero-shuffle narrow
    stage, row-identical to the DuckDB ``mentions`` oracle (tested)."""
    from glirel_spark.operators import fused

    return fused.mentions_from(docs_ments(spark, sf_dir))


def pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import fused

    return fused.pairs_from(docs_ments(spark, sf_dir))


def scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    rel = pairs(spark, sf_dir).filter("is_rel")
    return scoring_ops.score_pairs_lexical(rel, scoring_ops.labels_df(spark))


def triples(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = config.THRESHOLD,
    top_k: int = 1,
) -> DataFrame:
    # api.triples_from picks the plan: at k=1 (the reference's eval) the
    # fused per-row label argmax off the cached gazetteer pass, zero
    # exchanges; otherwise the payload decode over the scored relation
    return api.triples_from(
        docs_ments(spark, sf_dir), threshold=threshold, top_k=top_k
    )


# --- coref clustering -------------------------------------------------------

def mention_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import coref

    # fused zero-shuffle clustering straight off the cached gazetteer
    # pass (edges + union-find + W6 ordering in one narrow mapInPandas
    # stage); tests/test_coref.py checks it against a pure-Python
    # union-find
    return coref.cluster_ments_fused(docs_ments(spark, sf_dir))


def cluster_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import coref

    return coref.aggregate_cluster_relations(
        triples(spark, sf_dir), mention_clusters(spark, sf_dir)
    )


# --- evaluation replay ------------------------------------------------------

def eval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import evaluate

    # round-6: decode + J5 filter + TP test are row-local on the pair
    # relation for the lexical scorer at k=1 (evaluate.py docstring);
    # hash-equal to the q_eval_counts oracle (tests/test_fused_decode.py).
    return evaluate.eval_counts_lexical(
        pairs(spark, sf_dir).filter("is_rel")
    )


def eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import evaluate

    return evaluate.micro_macro(eval_counts(spark, sf_dir))


def threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import evaluate

    # round-6: at k=1 the lexical label dimension is a literal, so the
    # argmax, the gold label set, the annotated filter, and the gold-hit
    # flag are all row-local on the pair relation — no scored cache, no
    # |labels|x expansion, no best⋈gold join (evaluate.py docstring;
    # hash-equal to the q_threshold_search oracle)
    return evaluate.threshold_search_lexical(
        pairs(spark, sf_dir).filter("is_rel")
    )


# --- linking + graph --------------------------------------------------------

def linked_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import linking

    return linking.link_triples(
        triples(spark, sf_dir), config.ALIAS_DICT
    ).select("doc_id", "subj", "pred", "obj", "prob")


def linked_triples_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import linking

    return linking.apply_fuzzy(
        linked_triples(spark, sf_dir),
        linking.best_fuzzy_alias(link_candidates(spark, sf_dir)),
    )


def link_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import linking

    return linking.fuzzy_alias_candidates(
        mentions(spark, sf_dir), linking.alias_df(spark)
    )


def graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops
    from glirel_spark.operators import linking

    linked = linking.link_triples(triples(spark, sf_dir), config.ALIAS_DICT)
    return graph_ops.materialize_graph(linked)


def graph_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized graph as a lineage-truncated
    (fixpoint.materialize) input for the KG analytics family.

    Round-6: every kg_* query references the graph relation several
    times (unions, self-joins, iterative peels), and each reference
    re-expanded the full build subtree at runtime — measured 13.4s for
    entity_neighbor_sim at sf0.1 vs 3.7s with the checkpoint, a plan
    whose explain shows the build replicated ~16x with zero
    ReusedExchange. On a cluster this boundary is "the graph IS a
    materialized table" (guide §3.3: materialize an intermediate to
    truncate the plan) — exactly how production runs analytics over a
    KG it has already built. Per-invocation and lazy: every bench/
    oracle run still computes the graph from the parquet inputs; the
    checkpoint only stops ONE query from rebuilding it N times.
    """
    return fixpoint.materialize(graph(spark, sf_dir))


def _linked_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """linked_triples with the same lineage-truncation treatment, for
    the doc-granularity analytics that reference it repeatedly."""
    return fixpoint.materialize(linked_triples(spark, sf_dir))


def entity_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.entity_degrees(graph_ckpt(spark, sf_dir))


def entity_neighbor_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.entity_neighbor_sim(graph_ckpt(spark, sf_dir))


def pred_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.pred_cooccurrence(graph_ckpt(spark, sf_dir))


def entity_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.entity_pmi(_linked_ckpt(spark, sf_dir))


def pred_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.pred_inverse(graph_ckpt(spark, sf_dir))


def pred_functionality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.pred_functionality(graph_ckpt(spark, sf_dir))


def pred_type_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    # round-6: feed the fused k=1 decoded relation directly (hash-equal
    # to the q_pred_type_signature oracle, tests/test_fused_decode.py)
    # — no pairs x labels expansion
    return graph_ops.pred_type_signature(
        scoring_ops.lexical_topk1_triples(
            pairs(spark, sf_dir).filter("is_rel"), formatted=False
        )
    )


def two_hop_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.two_hop_paths(graph_ckpt(spark, sf_dir))


def kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.triangles(graph_ckpt(spark, sf_dir))


def graph_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance proof as a driver query: split the
    corpus's linked triples BY DOCUMENT into two deterministic halves,
    materialize half A, upsert half B into it — the result must equal
    (and its oracle IS) the full-graph rebuild."""
    from glirel_spark.operators import graph as graph_ops
    from glirel_spark.operators import linking

    linked = linking.link_triples(triples(spark, sf_dir), config.ALIAS_DICT)
    half = F.pmod(F.hash("doc_id"), F.lit(2)) == 0
    base = graph_ops.materialize_graph(linked.filter(half))
    return graph_ops.upsert_graph(base, linked.filter(~half))


def kg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.components(graph_ckpt(spark, sf_dir))


def kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kcore(graph_ckpt(spark, sf_dir))


def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.pagerank_int(graph_ckpt(spark, sf_dir))


# --- tensor-plane (neural) path ----------------------------------------------

def triples_neural(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The neural scorer over the uncached gazetteer pass: the scan's
    one round-robin spread (``_interleaved_plan``) feeds the scorer's
    mapInPandas through narrow projections, so the scorer adds no
    shuffle of its own (model/udf.py) and a job builds no cache. The
    plan is ``docs_ments``' plan, so a ``docs_ments``, ``docs_tokens``
    or ``interleaved`` cache that another query built is still read in
    its place (the cache manager matches plans)."""
    return api.triples_from(_docs_ments_plan(spark, sf_dir), scorer="neural")


# --- reference eval-protocol replay (WikiZSL/FewRel-shaped fixture) ----------

# The zero-shot evaluation protocol runs on a reference-format JSONL
# file, not on the sf tables: labels come from the file itself
# (eval.py:236-263). The committed fixture is WikiZSL-shaped
# (tools/gen_refeval_fixture.py); the oracle is the outside-Spark
# protocol replay committed by tools/gen_golden.py. sf_dir is accepted
# for driver-signature uniformity and intentionally unused.
REFEVAL_FIXTURE = str(
    __import__("pathlib").Path(__file__).resolve().parents[2]
    / "fixtures/wikizsl_dev.jsonl"
)


def refeval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.plans import refeval

    counts, _ = refeval.evaluate_jsonl(spark, REFEVAL_FIXTURE)
    return counts


def refeval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.plans import refeval

    _, metrics = refeval.evaluate_jsonl(spark, REFEVAL_FIXTURE)
    return metrics


# --- corpus / training-data operators ----------------------------------------

def _flat_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.TableIO(spark, sf_dir).table("documents")


def docs_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tokens, _sh) — the char-hash + shingle pass, MATERIALIZED
    (cached, plan-keyed like docs_ments). The minhash signature subtree,
    the jaccard-verify subtree, and the dedup-family query all consume
    it; one cache entry replaces two-or-more recomputations of the most
    expensive narrow stage in the dedup family. On a cluster this is
    "write the shingled corpus as a table"."""
    from glirel_spark.operators import corpus_dedup as cd

    return cd.with_shingle_array(docs_tokens(spark, sf_dir)).cache()


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.decontaminate(docs_shingled(spark, sf_dir))


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.chunk_dedup(docs_tokens(spark, sf_dir))


def dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.dup_spans(docs_tokens(spark, sf_dir))


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.dsir_weights(_flat_docs(spark, sf_dir))


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.doc_repetition(docs_shingled(spark, sf_dir))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.minhash_signature_arr(
        docs_tokens(spark, sf_dir), shingled=docs_shingled(spark, sf_dir)
    )


def minhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.minhash_neardups_arr(
        docs_tokens(spark, sf_dir), shingled=docs_shingled(spark, sf_dir)
    )


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.simhash(docs_tokens(spark, sf_dir))


def simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.simhash_neardups(docs_tokens(spark, sf_dir))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.neardup_clusters(
        docs_tokens(spark, sf_dir), shingled=docs_shingled(spark, sf_dir)
    )


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.fingerprint(docs_tokens(spark, sf_dir))


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.exact_dedup(docs_tokens(spark, sf_dir))


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.doc_quality(_flat_docs(spark, sf_dir))


def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.doc_gopher_rules(_flat_docs(spark, sf_dir))


def doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.doc_surprisal(_flat_docs(spark, sf_dir))


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.token_counts(_flat_docs(spark, sf_dir))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.lang_id(_flat_docs(spark, sf_dir))


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.corpus_stats(_flat_docs(spark, sf_dir))


def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.stratified_sample(_flat_docs(spark, sf_dir))


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import similarity

    emb = tables.TableIO(spark, sf_dir).table("embeddings")
    return similarity.brute_force_topk(emb)


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import similarity

    emb = tables.TableIO(spark, sf_dir).table("embeddings")
    return similarity.ivf_topk(emb)


def ann_topk_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import kmeans

    emb = tables.TableIO(spark, sf_dir).table("embeddings")
    cents = kmeans.fit_centroids(sf_dir)
    return kmeans.kmeans_ivf_topk(emb, cents)


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import kmeans, similarity

    emb = tables.TableIO(spark, sf_dir).table("embeddings")
    return similarity.semantic_dedup(emb, kmeans.fit_centroids(sf_dir))


def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import pq

    emb = tables.TableIO(spark, sf_dir).table("embeddings")
    return pq.pq_topk(emb, pq.fit_pq(sf_dir))


def ann_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import pq

    emb = tables.TableIO(spark, sf_dir).table("embeddings")
    return pq.pq_topk_rerank(emb, pq.fit_pq(sf_dir))


def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import kmeans, pq

    emb = tables.TableIO(spark, sf_dir).table("embeddings")
    return pq.ivfpq_topk(emb, kmeans.fit_centroids(sf_dir), pq.fit_pq(sf_dir))


def ann_topk_kmeans_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import kmeans

    emb = tables.TableIO(spark, sf_dir).table("embeddings")
    cents = kmeans.fit_centroids(sf_dir)
    return kmeans.kmeans_ivf_topk(
        emb, cents, corpus_probe=config.IVF_KM_CORPUS_PROBE
    )


def embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import similarity

    emb = tables.TableIO(spark, sf_dir).table("embeddings")
    return similarity.embedding_neardups(emb)


def media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import multimodal

    return multimodal.media_stats(interleaved(spark, sf_dir))


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import multimodal

    return multimodal.fake_decode_features(
        multimodal.media_table(interleaved(spark, sf_dir))
    )


def docred_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference's own Re-DocRED dev split -> flattened mention table
    (global token positions). sf_dir unused: the input is the
    reference repo's committed evaluation data file."""
    from glirel_spark.sources import docred

    return docred.docred_mentions(docred.read_docred(spark))


def docred_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.sources import docred

    return docred.docred_pairs(docred.read_docred(spark))


def docred_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.sources import docred

    return docred.docred_gold_triples(
        docred.read_docred(spark), docred.read_wikidata_properties(spark)
    )


def docred_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.sources import docred

    return docred.docred_type_prior_eval(docred.read_docred(spark))


def docred_eval_xsplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out protocol replay: prior fit on the dev split, metrics on
    the test split."""
    from glirel_spark.sources import docred

    return docred.docred_type_prior_eval(
        docred.read_docred(spark, docred.DOCRED_TEST),
        prior_docs=docred.read_docred(spark, docred.DOCRED_DEV),
    )


def docred_distant_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.sources import docred

    return docred.docred_distant_mentions(docred.read_docred(spark))


def docred_distant_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.sources import docred

    return docred.docred_distant_triples(docred.read_docred(spark))


def docred_neural_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.sources import docred

    return docred.docred_neural_counts(docred.read_docred(spark))


def docred_eval_neural(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.sources import docred

    return docred.docred_neural_eval(docred.read_docred(spark))


def media_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import multimodal

    return multimodal.media_reuse(interleaved(spark, sf_dir))


def caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import multimodal

    return multimodal.caption_pairs(interleaved(spark, sf_dir))


def media_ref_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import multimodal

    return multimodal.media_ref_audit(interleaved(spark, sf_dir))


def interleaved_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import multimodal

    return multimodal.interleaved_chunks(interleaved(spark, sf_dir))


def interleaved_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import packing

    return packing.interleaved_blocks(interleaved(spark, sf_dir))


def span_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.span_sequences(interleaved(spark, sf_dir))


def calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the NEURAL scorer against the deterministic
    lexical gold — the discriminating pairing (the lexical decode's own
    prob is monotone in its gold criterion, so self-calibration is
    vacuously 1.0)."""
    from glirel_spark.operators import evaluate

    # round-6: gold derives row-locally from the pair relation (no
    # scored expansion, no distinct — evaluate.gold_triples_lexical);
    # calibration_table's semi-join and bucket agg are unchanged.
    gold = evaluate.gold_triples_lexical(
        pairs(spark, sf_dir).filter("is_rel")
    ).select(
        "doc_id",
        F.col("h_start").alias("head_start"),
        (F.col("h_end") + 1).alias("head_end"),
        F.col("t_start").alias("tail_start"),
        (F.col("t_end") + 1).alias("tail_end"),
        "label",
    )
    # calibration_table buckets the prediction relation twice (all
    # preds + gold-correct preds); cut the neural subtree's lineage so
    # the scorer runs once (same round-6 treatment as refeval/docred).
    return evaluate.calibration_table(
        fixpoint.materialize(triples_neural(spark, sf_dir)), gold
    )


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.pii_scrub(_flat_docs(spark, sf_dir))


def triples_media_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import multimodal

    return multimodal.media_evidence(
        triples(spark, sf_dir), docs_tokens(spark, sf_dir)
    )


def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.doc_top_terms(tables.text_of(interleaved(spark, sf_dir)))


def events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import events

    return events.windowed_counts(tables.TableIO(spark, sf_dir).table("events"))


def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import events

    return events.sessionize(tables.TableIO(spark, sf_dir).table("events"))


def events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import events

    return events.asof_last_event(tables.TableIO(spark, sf_dir).table("events"))


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import events

    return events.range_join_counts(tables.TableIO(spark, sf_dir).table("events"))


def events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import events

    return events.props_stats(tables.TableIO(spark, sf_dir).table("events"))


def kg_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_fusion(graph_ckpt(spark, sf_dir))


def kg_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_adjacency(graph_ckpt(spark, sf_dir))


def kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_negative_samples(graph_ckpt(spark, sf_dir))


def kg_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_link_pred(graph_ckpt(spark, sf_dir))


def er_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import linking

    return linking.er_edit_pairs(mentions(spark, sf_dir))


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.inverted_index(docs_tokens(spark, sf_dir))


def ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.ngram_lm(docs_tokens(spark, sf_dir))


def kg_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_bfs(graph_ckpt(spark, sf_dir))


def kg_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_degree_dist(graph_ckpt(spark, sf_dir))


def entity_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import linking

    return linking.entity_types(mentions(spark, sf_dir), config.ALIAS_DICT)


def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.doc_bigram_surprisal(_flat_docs(spark, sf_dir))


def kg_inferred_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_inferred_triples(graph_ckpt(spark, sf_dir))


def minhash_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.minhash_hard_negatives(
        docs_tokens(spark, sf_dir), shingled=docs_shingled(spark, sf_dir)
    )


def corpus_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data routing verdict, one row per document:
    language gate -> Gopher quality gate -> exact-dup keeper gate ->
    near-dup canonical gate, first failing gate names the drop reason
    (deterministic priority cascade — the decision table a curation
    pipeline materializes before tokenization).

    Pure composition of four existing oracle-checked subtrees (lang_id,
    doc_gopher_rules, fingerprint groups, neardup_clusters), all
    sharing the session-cached docs_tokens/shingle passes; the final
    assembly is three doc_id equi-joins on uniformly-distributed keys.
    """
    from glirel_spark.operators import corpus_dedup as cd
    from glirel_spark.operators import textstats

    docs = _flat_docs(spark, sf_dir)
    li = textstats.lang_id(docs).select("doc_id", "lang_pred")
    gq = textstats.doc_gopher_rules(docs).select("doc_id", "pass_gopher")
    fp = cd.fingerprint(docs_tokens(spark, sf_dir))
    ex = fp.join(
        fp.groupBy("fp").agg(F.min("doc_id").alias("_keeper")), "fp"
    ).select("doc_id", (F.col("doc_id") == F.col("_keeper")).alias("is_exact_keeper"))
    nd = cd.neardup_clusters(
        docs_tokens(spark, sf_dir), shingled=docs_shingled(spark, sf_dir)
    ).select("doc_id", "is_canonical")
    out = li.join(gq, "doc_id").join(ex, "doc_id").join(nd, "doc_id")
    reason = (
        F.when(F.col("lang_pred") != "en", F.lit("lang"))
        .when(~F.col("pass_gopher"), F.lit("quality"))
        .when(~F.col("is_exact_keeper"), F.lit("exact_dup"))
        .when(~F.col("is_canonical"), F.lit("near_dup"))
        .otherwise(F.lit("keep"))
    )
    return out.select(
        "doc_id",
        "lang_pred",
        "pass_gopher",
        "is_exact_keeper",
        "is_canonical",
        reason.alias("reason"),
        (reason == "keep").alias("keep"),
    )


def kg_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_evidence(_linked_ckpt(spark, sf_dir))


def pred_top_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.pred_top_entities(graph_ckpt(spark, sf_dir))


def routing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation accounting: keep/drop verdict counts per (lang, reason)
    with per-lang subtotals and the grand total in ONE ROLLUP pass
    (same single-Expand shape as corpus_stats)."""
    r = corpus_routing(spark, sf_dir)
    return r.rollup("lang_pred", "reason").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_keep"),
        F.grouping_id().cast("int").alias("gid"),
    )


def kg_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_ntriples(graph_ckpt(spark, sf_dir))


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.lang_confusion(_flat_docs(spark, sf_dir))


def pred_path_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.pred_path_cooccurrence(graph_ckpt(spark, sf_dir))


def distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.distinct_hll(_flat_docs(spark, sf_dir))


def cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.cms_topk(_flat_docs(spark, sf_dir))


def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.bloom_decontaminate(docs_shingled(spark, sf_dir))


def er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import linking

    return linking.er_clusters(mentions(spark, sf_dir))


def kg_canonicalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-free KG canonicalization: ER-cluster the mention
    surface forms (blocked Levenshtein -> connected components), then
    rebuild the triple graph over cluster representatives."""
    from glirel_spark.operators import linking

    return linking.canonicalized_graph(
        triples(spark, sf_dir), linking.er_clusters(mentions(spark, sf_dir))
    )


def token_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import packing

    return packing.token_blocks(docs_tokens(spark, sf_dir))


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import packing

    return packing.doc_chunks(docs_tokens(spark, sf_dir))


def quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.quality_buckets(_flat_docs(spark, sf_dir))


def kg_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_walks(graph_ckpt(spark, sf_dir))


def kg_distant_supervision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_distant_supervision(_linked_ckpt(spark, sf_dir))


def kg_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_skipgram_pairs(graph_ops.kg_walks(graph_ckpt(spark, sf_dir)))


def kg_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_closure(graph_ckpt(spark, sf_dir))


def entity_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import linking

    return linking.entity_salience(
        mentions(spark, sf_dir), docs_tokens(spark, sf_dir), config.ALIAS_DICT
    )


def kg_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_label_prop(graph_ckpt(spark, sf_dir))


def funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import events as ev

    return ev.funnel_counts(tables.TableIO(spark, sf_dir).table("events"))


def user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import events as ev

    return ev.user_state_intervals(tables.TableIO(spark, sf_dir).table("events"))


def allpairs_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.allpairs_neardups(
        docs_tokens(spark, sf_dir), shingled=docs_shingled(spark, sf_dir)
    )


def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import linking

    return linking.er_sorted_neighborhood(mentions(spark, sf_dir))


def kg_bipartite_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_bipartite_audit(graph_ckpt(spark, sf_dir))


def user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import events as ev

    return ev.user_retention(tables.TableIO(spark, sf_dir).table("events"))


def kg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog between the even-doc-id half snapshot and the full
    graph — the deterministic, oracle-replayable stand-in for
    'yesterday's snapshot vs today's' (same integer-doc-id split
    discipline as decontaminate; content-addressed ids would need an
    explicit snapshot pair)."""
    from glirel_spark.operators import graph as graph_ops
    from glirel_spark.operators import linking

    linked = linking.link_triples(triples(spark, sf_dir), config.ALIAS_DICT)
    half = F.pmod(F.col("doc_id").cast("long"), F.lit(2)) == 0
    old = graph_ops.materialize_graph(linked.filter(half))
    new = graph_ops.materialize_graph(linked)
    return graph_ops.kg_snapshot_diff(old, new)


def kg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.kg_summary(graph_ckpt(spark, sf_dir))


def packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import packing

    return packing.packing_stats(docs_tokens(spark, sf_dir))


def kg_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import graph as graph_ops

    return graph_ops.ktruss(graph_ckpt(spark, sf_dir))


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.vocab_coverage(_flat_docs(spark, sf_dir))


def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import events as ev

    return ev.event_gaps(tables.TableIO(spark, sf_dir).table("events"))


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.containment_pairs(
        docs_tokens(spark, sf_dir), shingled=docs_shingled(spark, sf_dir)
    )


def bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached BM25 tf index, same ownership pattern as docs_shingled:
    the cache lives at the pipeline layer (plan-keyed, one entry per
    sf_dir for the whole session), not inside the operator."""
    from glirel_spark.operators import textstats

    return textstats.bm25_tf(_flat_docs(spark, sf_dir)).cache()


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.bm25_topk(
        _flat_docs(spark, sf_dir), tf=bm25_index(spark, sf_dir)
    )


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.bpe_merges(_flat_docs(spark, sf_dir))


def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.corpus_mixture(_flat_docs(spark, sf_dir))


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import textstats

    return textstats.bpe_token_counts(_flat_docs(spark, sf_dir))


def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.split_assign(docs_tokens(spark, sf_dir))


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.split_leakage(
        docs_tokens(spark, sf_dir), shingled=docs_shingled(spark, sf_dir)
    )


def split_assign_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from glirel_spark.operators import corpus_dedup as cd

    return cd.split_assign_safe(
        docs_tokens(spark, sf_dir), shingled=docs_shingled(spark, sf_dir)
    )
