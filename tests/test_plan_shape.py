"""Physical-plan regression guards: the properties BENCH/BASELINE.md
claims about the flagship (one shuffle exchange + broadcasts, no
global windows) are asserted here so a plan regression fails CI, not
just the benchmark."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_triples_plan_is_window_free_single_shuffle(spark):
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.triples(spark, SF))
    assert "Window" not in plan  # decode is an aggregation, not a window
    # exactly ONE hash-partitioned shuffle: the decode argmax. Any
    # enrich join or re-shuffle creeping back in would add more.
    # (The ingest repartition is RoundRobin inside the cached subtree
    # and is excluded — AQE's toString prints finalized cached plans
    # twice, which makes counting it order-dependent across tests.)
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, f"flagship plan grew shuffles:\n{plan}"


def test_top_orders_plan_has_no_global_window(spark):
    from glirel_spark.plans import relational

    plan = _plan(relational.top_orders(spark, SF))
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_fused_coref_plan_is_shuffle_free_after_cache(spark):
    from glirel_spark.plans import pipeline

    # force the cached gazetteer pass first (the plan under test reads it)
    pipeline.docs_ments(spark, SF).count()
    plan = _plan(pipeline.mention_clusters(spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan


def test_decontaminate_plan_is_broadcast_scan(spark):
    """The corpus side of decontamination must stay map-only: the eval
    shingle set arrives as a BROADCAST single-row build side (Catalyst's
    broadcast-variable form — no driver collect, no giant plan literal,
    no corpus-side shuffle join)."""
    from glirel_spark.plans import pipeline

    pipeline.docs_shingled(spark, SF).count()  # warm the shared cache
    plan = _plan(pipeline.decontaminate(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastExchange" in plan
    # no shuffle join against the corpus
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Window" not in plan


def test_corpus_stats_plan_is_one_expand_one_agg(spark):
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.corpus_stats(spark, SF))
    assert plan.count("Expand") == 1  # ROLLUP = one Expand, not 3 scans
    assert "Window" not in plan


def test_fuzzy_linking_plan_broadcasts_candidates(spark):
    """The triple relation must not shuffle for the fuzzy substitution:
    both candidate joins are broadcast left joins."""
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.linked_triples_fuzzy(spark, SF))
    # the substitution joins keyed on subj/obj must be broadcast left
    # joins (the candidate-generation subtree may shuffle its own
    # shingle relations — that side is distinct-surface-sized)
    assert "BroadcastHashJoin [subj" in plan
    assert "BroadcastHashJoin [obj" in plan


def test_asof_plan_is_single_exchange_no_join(spark):
    """The as-of formulation's whole point: one shuffle on user, one
    sort, ZERO join operators — any join creeping in means someone
    rebuilt the O(left x right) candidate space."""
    from glirel_spark.operators.events import asof_last_event

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(asof_last_event(ev))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    # filters reach the scan even through the window
    assert "ReadSchema" in plan


def test_range_join_plan_is_equi_join_not_nested_loop(spark):
    """Time-bucketing must turn the BETWEEN predicate into an
    equi-join: a BroadcastNestedLoopJoin/CartesianProduct here means
    the non-equi condition leaked back into the join keys."""
    from glirel_spark.operators.events import range_join_counts

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(range_join_counts(ev))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    # event-type predicate pushed into the parquet scan
    assert "PushedFilters: [IsNotNull(event_type)" in plan


def test_kg_link_pred_uses_takeordered_not_global_sort(spark):
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.kg_link_pred(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_kg_negative_samples_entity_index_is_broadcast(spark):
    """The entity-index and n_entities joins must BROADCAST (the index
    is a dimension); the distributed zipWithIndex must never fall back
    to a global single-partition window."""
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.kg_negative_samples(spark, SF))
    assert "BroadcastExchange HashedRelationBroadcastMode" in plan
    # the only windows allowed are partitioned BY BUCKET (the
    # within-bucket row_number) or over the 64-row offsets table
    for line in plan.splitlines():
        if "partitionBy" in line.lower():
            continue
    assert "CartesianProduct" not in plan


def test_kg_fusion_plan_is_window_free(spark):
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.kg_fusion(spark, SF))
    assert "Window" not in plan  # argmax rides inside the aggregate


def test_inverted_index_plan_single_scan_two_aggs(spark):
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.inverted_index(spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_token_blocks_prefix_sum_is_two_phase_not_global_window(spark):
    """The packed-block layout must come from the distributed two-phase
    prefix sum: a rangepartitioning exchange + a _pid-partitioned
    window, with the only unpartitioned window running over the tiny
    per-partition-totals frame. Collapsing it into one global
    Window.orderBy would drop the range exchange and leave a single
    unpartitioned window over the full corpus."""
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.token_blocks(spark, SF))
    assert "Exchange rangepartitioning" in plan
    assert plan.count("Window") == 2  # per-partition cumsum + totals frame


def test_quality_buckets_corpus_side_is_broadcast_mapped(spark):
    """Exact deciles via the bounded-domain histogram: the bucket map
    must come back to the corpus as a BROADCAST join, and the only
    window runs over the tiny histogram frame — a global ntile over
    the corpus would show as more windows / a shuffle join."""
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.quality_buckets(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Window") == 1


def test_kg_walks_plan_is_window_free(spark):
    """Successor argmin is min(struct(...)) inside an aggregate and the
    rollout is plain joins — no window, no nested-loop join."""
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.kg_walks(spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_kg_label_prop_plan_is_window_free(spark):
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.kg_label_prop(spark, SF))
    assert "Window" not in plan


def test_bm25_plan_broadcasts_query_side(spark):
    """The corpus tf relation must be probed via a BROADCAST of the
    bounded query side — a shuffle join on the Zipf-hot token key is
    exactly the regression this guard exists to catch. The only
    SortMergeJoins allowed are the doc-keyed dl join and query-side
    prep (token is never a sort-merge key)."""
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.bm25_topk(spark, SF))
    assert "BroadcastExchange" in plan
    import re

    for m in re.finditer(r"SortMergeJoin \[([^\]]*)\]", plan):
        assert "token" not in m.group(1), f"tf shuffled on token:\n{plan}"


def test_containment_pairs_probe_side_prefix_only(spark):
    """Containment candidates join prefix(probe) x postings(index):
    both sides key on the shingle — fine — but the verify stage must
    aggregate on the candidate pair, never window. No Window at all in
    this plan."""
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.containment_pairs(spark, SF))
    # the only window is the per-doc rare-first rank: every window spec
    # in the plan must be partitioned by doc_id — a GLOBAL window
    # (empty partition spec) would single-partition the shingle stream
    import re

    specs = re.findall(r"windowspecdefinition\(([^,]*),", plan)
    assert specs, f"expected the rare-first rank window:\n{plan}"
    for s in specs:
        assert "doc_id" in s, f"non-doc_id window spec {s!r}:\n{plan}"


def test_round4_interleave_ops_are_zero_exchange_scans(spark):
    """caption_pairs / media_ref_audit / interleaved_chunks / pii_scrub
    are row-local projections: no exchange of any kind, no window —
    embarrassingly parallel at any corpus size."""
    from glirel_spark.plans import pipeline

    for fn in (pipeline.caption_pairs, pipeline.media_ref_audit,
               pipeline.interleaved_chunks, pipeline.pii_scrub):
        plan = _plan(fn(spark, SF))
        assert "Exchange hashpartitioning" not in plan, fn.__name__
        assert "Exchange rangepartitioning" not in plan, fn.__name__
        assert "Window" not in plan, fn.__name__


def test_media_evidence_adds_only_a_dimension_join(spark):
    """triples_media_evidence must not add a shuffle beyond the
    flagship's single decode-argmax exchange: the n_chunks dimension
    joins as a broadcast here (AQE picks sort-merge co-partitioned on
    doc_id at scale); the congruence arithmetic is pure projection."""
    from glirel_spark.plans import pipeline

    plan = _plan(pipeline.triples_media_evidence(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "Window" not in plan


def _job_bucket(spark, scorer="lexical"):
    """jobs/run_pipeline.py's extract_bucket over bucket 0 of 2 of a
    one-file read."""
    import importlib.util
    from pathlib import Path

    from pyspark.sql import functions as F

    from glirel_spark.plans.lineage import bucket_of
    from glirel_spark.sources import tables

    path = Path(__file__).resolve().parents[1] / "jobs" / "run_pipeline.py"
    spec = importlib.util.spec_from_file_location("run_pipeline", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    inter = tables.interleaved_documents(tables.TableIO(spark, SF).table("documents"))
    return job.extract_bucket(
        inter.filter(bucket_of(F.col("doc_id"), 2) == 0), scorer=scorer)


def test_job_bucket_plan_is_one_narrow_stage(spark):
    """The spark-submit job's per-bucket plan (lexical scorer, top_k=1):
    documents -> linked triples with no exchange, no join (the labels
    and the alias map are literals), no scan of a python-list RDD and no
    python evaluation."""
    linked = _job_bucket(spark)
    plan = _plan(linked)
    for node in ("Exchange", "BroadcastNestedLoopJoin", "BroadcastHashJoin",
                 "ExistingRDD", "BatchEvalPython", "ArrowEvalPython",
                 "MapInPandas"):
        assert node not in plan, f"{node} in the bucket plan:\n{plan}"
    assert linked.count() > 0


def _nodes_outside_cache(df) -> list[str]:
    """One-line description of each physical-plan node, walking the
    tree itself (AQE's toString repeats cached subtrees) and stopping at
    cache scans. After an action, the adaptive plan is the final one and
    the walk descends into its query stages."""
    node = df._jdf.queryExecution().executedPlan()
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    out, todo = [], [node]
    while todo:
        node = todo.pop()
        if node.nodeName().endswith("QueryStage"):
            node = node.plan()
        out.append(node.simpleString(100))
        if node.nodeName() != "InMemoryTableScan":
            kids = node.children()
            todo += [kids.apply(i) for i in range(kids.size())]
    return out


def _neural_graph_job(spark):
    """The warm-loop job: documents -> triples_neural -> link -> graph."""
    from glirel_spark import config
    from glirel_spark.operators import graph, linking
    from glirel_spark.plans import pipeline

    return graph.materialize_graph(
        linking.link_triples(pipeline.triples_neural(spark, SF), config.ALIAS_DICT)
    )


def test_neural_graph_job_builds_no_cache_of_its_own(spark):
    """documents -> triples_neural -> link -> graph in a session with no
    other cache reads no cache: its one scan feeds the scorer. Its plan
    is docs_ments' plan, so once another query has cached docs_ments,
    the job reads that cache instead of running the gazetteer pass."""
    from glirel_spark.plans import pipeline

    def caches() -> int:
        # every InMemoryRelation the job reads, nested cached plans included
        plan = _neural_graph_job(spark)._jdf.queryExecution().withCachedData()
        return plan.toString().count("InMemoryRelation")

    spark.catalog.clearCache()
    assert caches() == 0
    pipeline.docs_ments(spark, SF)
    try:
        assert caches() == 1
    finally:
        spark.catalog.clearCache()


def test_warm_neural_graph_build_runs_no_spark_job(spark, monkeypatch):
    """After two warm-up jobs, building the documents -> graph plan
    starts no Spark job (the documents schema is declared; the spread is
    decided from the file listing, not by planning the scan) and makes
    at most 400 py4j round trips (205 in 6 of 7 builds and 284 in one
    when this test was written; 584 before the plan's constant
    expressions were built once, functions/memo.py)."""
    import py4j.clientserver as cs

    sc = spark.sparkContext
    for _ in range(2):
        spark.catalog.clearCache()
        _neural_graph_job(spark).collect()
    spark.catalog.clearCache()
    calls = []
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        calls.append(1)
        return send(self, command)

    sc.setJobGroup("warm-neural-build", "warm-neural-build")
    try:
        monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
        _neural_graph_job(spark)
        monkeypatch.undo()
        jobs = sc.statusTracker().getJobIdsForGroup("warm-neural-build")
    finally:
        monkeypatch.undo()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [], f"the build ran Spark jobs {jobs}"
    assert len(calls) <= 400, f"{len(calls)} py4j calls"


def test_every_scorer_entry_runs_default_parallelism_tasks(spark):
    """The scorer skips its own repartition only where its input already
    arrives round-robin spread (model/udf._spread). Every entry still
    scores on defaultParallelism partitions: the spread corpus, uncached
    or through a docs_ments cache, a pack_mentions join (neural_triples,
    score_pairs_neural) and the spark-submit job's bucket, a narrow read
    of one file."""
    from pyspark.sql import functions as F

    from glirel_spark.model import udf
    from glirel_spark.plans import pipeline

    spark.catalog.clearCache()
    entries = {
        "triples_neural": lambda: pipeline.triples_neural(spark, SF),
        "neural_triples": lambda: udf.neural_triples(
            pipeline.docs_tokens(spark, SF), pipeline.mentions(spark, SF)),
        "score_pairs_neural": lambda: udf.score_pairs_neural(
            pipeline.docs_tokens(spark, SF), pipeline.mentions(spark, SF)),
        "extract_bucket": lambda: _job_bucket(spark, scorer="neural"),
        # built last: its docs_ments cache is read by triples_neural
        "triples_neural over docs_ments": lambda: pipeline.triples_neural(spark, SF),
    }
    want = spark.sparkContext.defaultParallelism
    got = {}
    for name, build in entries.items():
        if name == "triples_neural over docs_ments":
            spark.catalog.clearCache()
            pipeline.docs_ments(spark, SF)
        df = build()
        got[name] = df.select(F.spark_partition_id()).distinct().count()
    spark.catalog.clearCache()
    assert got == dict.fromkeys(entries, want), got


def test_docs_ments_reads_an_existing_tokens_cache(spark):
    """The cache manager matches plans: once docs_tokens is cached, the
    cached plan of docs_ments is built on it (one gazetteer pass over
    the shared tokens), not on a second tokenization."""
    from glirel_spark.plans import pipeline

    spark.catalog.clearCache()
    pipeline.docs_tokens(spark, SF)
    ments = pipeline.docs_ments(spark, SF)._jdf.queryExecution().withCachedData()
    assert ments.nodeName() == "InMemoryRelation"
    cached = ments.cacheBuilder().cachedPlan().toString()
    assert "InMemoryTableScan [doc_id#" in cached and "tokens#" in cached, cached


def test_graph_final_plan_has_two_exchanges(spark):
    """materialize_graph shuffles twice, into the (triple, doc_id)
    aggregate and into the final (triple) aggregate: two aggregations,
    each a partial and a final aggregate node."""
    from glirel_spark.operators.graph import materialize_graph

    rows = [(f"d{i % 7}", f"s{i % 3}", "p", f"o{i % 2}", i / 50) for i in range(50)]
    linked = spark.createDataFrame(rows, "doc_id string, subj string, pred string, obj string, prob double")
    g = materialize_graph(linked)
    g.collect()  # the final adaptive plan exists only after an action
    nodes = _nodes_outside_cache(g)
    exchanges = [n for n in nodes if n.startswith("Exchange")]
    assert len(exchanges) == 2, "\n".join(nodes)
    assert all("hashpartitioning" in n for n in exchanges), "\n".join(nodes)
    assert sum("Aggregate(" in n for n in nodes) == 4, "\n".join(nodes)


@pytest.mark.parametrize("top_k", [1, 2])
def test_neural_triples_plan_is_one_repartition_into_the_udf(spark, top_k):
    """At every top_k the neural path decodes inside the scorer, and the
    corpus is spread once: on the whole plan, from the scan to
    MapInPandas, the one exchange is the round-robin repartition of the
    one-file read, and there is no cache, no join and no aggregation (no
    decode exchange and no enrichment joins)."""
    from glirel_spark.plans import api, pipeline

    spark.catalog.clearCache()
    nodes = _nodes_outside_cache(api.triples_from(
        pipeline._docs_ments_plan(spark, SF), top_k=top_k, scorer="neural"
    ))
    plan = "\n".join(nodes)
    exchanges = [n for n in nodes if "Exchange" in n]
    assert len(exchanges) == 1, plan
    assert "RoundRobinPartitioning" in exchanges[0], plan
    assert nodes[0].startswith("MapInPandas"), plan
    assert nodes[-1].startswith("FileScan parquet"), plan
    assert not [n for n in nodes if n.startswith("InMemoryTableScan")], plan
    assert "Join" not in plan and "Aggregate" not in plan, plan


def test_kmeans_ann_plan_is_one_shuffle_without_aggregate(spark):
    """ann_topk_kmeans (single-assigned corpus) ranks straight off the
    broadcast cell join: its only non-broadcast exchange feeds the
    per-query window, and no dedup aggregate creeps in. The
    multi-assigned corpus of ann_topk_kmeans_multi keeps its dedup."""
    import re

    from glirel_spark.plans import pipeline

    def names(df):
        return [re.match(r"\w+", n).group() for n in _nodes_outside_cache(df)]

    single = names(pipeline.ann_topk_kmeans(spark, SF))
    assert single.count("Exchange") == 1, single
    assert not [n for n in single if "Aggregate" in n], single
    multi = names(pipeline.ann_topk_kmeans_multi(spark, SF))
    assert [n for n in multi if "Aggregate" in n], multi


def test_generated_methods_fit_the_jit_limit(spark):
    """No whole-stage-codegen method of the gazetteer pass, the lexical
    family, the neural plan (its mention pass shares a stage with the
    scorer's input projection), the language-id family or the
    embedding-search family exceeds HotSpot's 8,000-byte JIT limit: a
    stage over it never leaves the bytecode interpreter
    (functions/barrier.py). Catalyst inlining an expensive alias into a
    predicate or into several output columns is what pushes a stage
    over; the barriers in fused.with_mentions,
    scoring.lexical_topk1_triples, textstats.lang_id and
    pq.with_normalized keep it under."""
    from glirel_spark.functions.barrier import JIT_METHOD_LIMIT, max_method_bytes
    from glirel_spark.operators import fused
    from glirel_spark.plans import pipeline

    # the gazetteer pass that docs_ments caches, measured while no cache
    # holds it (a cached plan measures as its cache scan)
    spark.catalog.clearCache()
    sizes = {"docs_ments": max_method_bytes(
        fused.with_mentions(pipeline._docs_tokens_plan(spark, SF)))}
    plans = {"extract_bucket": _job_bucket(spark)}
    for fn in (pipeline.triples, pipeline.graph, pipeline.triples_neural,
               pipeline.pred_type_signature,
               pipeline.lang_id, pipeline.lang_confusion, pipeline.corpus_routing,
               pipeline.routing_stats, pipeline.ann_topk, pipeline.ann_topk_kmeans,
               pipeline.ann_topk_pq, pipeline.ann_topk_pq_rerank,
               pipeline.ann_topk_ivfpq):
        plans[fn.__name__] = fn(spark, SF)
    sizes |= {name: max_method_bytes(df) for name, df in plans.items()}
    # 0 would mean the probe saw no codegen stage (e.g. an AQE plan)
    assert all(sizes.values()), f"a plan has no codegen stage: {sizes}"
    over = {name: n for name, n in sizes.items() if n > JIT_METHOD_LIMIT}
    assert not over, f"methods over {JIT_METHOD_LIMIT} bytes: {over} (all: {sizes})"
