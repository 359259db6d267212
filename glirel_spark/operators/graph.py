"""Graph materialization with explicit hot-key skew handling.

north_rule: (subj, pred, obj) triples into partitioned tables with
hot-entity skew handled. Entity frequency is Zipfian at corpus scale, so
a naive groupBy(subj, pred, obj) puts the hottest entity's whole key
range on one reducer; materialize_graph bounds every reducer's share of
a hot key (AQE skew handling remains as backstop for keys we didn't
predict). The aggregation is algebraic (counts sum, max-of-max), so it
is semantics-identical to a direct groupBy(subj, pred, obj) — the
DuckDB oracle's plan, and what the tests compare it with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from glirel_spark import config
from glirel_spark.functions.memo import once
from glirel_spark.operators import fixpoint

N_HUB_CAP = config.NEIGH_HUB_CAP
_KEYS = ["subj", "pred", "obj"]


def _edges(graph: DataFrame, both_ways: bool = False) -> DataFrame:
    """(a, b): the distinct directed entity edges of ``graph``, self-loops
    dropped. With ``both_ways``, also every edge reversed (a union-all:
    a reciprocal pair then appears twice per direction, so callers that
    need a set add ``.distinct()``)."""
    e = (
        graph.select(F.col("subj").alias("a"), F.col("obj").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if not both_ways:
        return e
    return e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


def materialize_graph(linked: DataFrame) -> DataFrame:
    """linked triples -> graph edges with support stats.

    Output: subj, pred, obj, n_mentions (total supporting triples),
    n_docs (distinct supporting docs), max_prob, min_doc_id (stable
    sample provenance pointer).

    ONE scan of `linked`, no join, two exchanges, each bounding what
    one reducer gets of a hot key:
      stage A: groupBy(keys, doc_id) — doc_id is the salt: a hub triple
        spreads over every reducer by doc; per-doc count/max make every
        later stat algebraic.
      stage B: groupBy(keys), n_docs = the per-doc row count. Its
        map-side partial aggregate (Spark always runs it) sends at most
        one row per key from each stage-A partition.
    """
    per_doc_aggs, aggs = once("graph.materialize", lambda: (
        (F.count("*").alias("_n"), F.max("prob").alias("_maxp")),
        (F.sum("_n").cast("long").alias("n_mentions"),
         F.count("*").cast("long").alias("n_docs"),
         F.max("_maxp").alias("max_prob"),
         F.min("doc_id").alias("min_doc_id")),
    ))
    per_doc = linked.groupBy(*_KEYS, "doc_id").agg(*per_doc_aggs)
    return per_doc.groupBy(*_KEYS).agg(*aggs)


def upsert_graph(existing: DataFrame, new_linked: DataFrame) -> DataFrame:
    """Incremental KG maintenance: fold a NEW batch of linked triples
    into an already-materialized graph without rescanning the corpus —
    the production shape (the corpus grows daily; re-aggregating 10^12
    historical triples per batch is not a plan).

    Correct because every support stat is algebraic across disjoint
    doc sets: n_mentions adds, max_prob is max-of-max, min_doc_id is
    min-of-min, and n_docs adds PROVIDED batch doc_ids are new —
    which append-only ingestion guarantees (each doc is processed
    exactly once; the same idempotency contract plans/lineage.py
    enforces for resume). The batch side runs the same two-exchange
    materialization as a full build; the merge is one full-outer join
    on the triple key, shuffled on exactly the partitioning a
    key-bucketed graph table already has (on a cluster: the sink table
    bucketed by (subj, pred, obj) makes this merge shuffle-free on the
    existing side). upsert(materialize(A), B) == materialize(A ∪ B)
    row-for-row — tested, and the driver query's oracle is the full
    rebuild itself.
    """
    delta = materialize_graph(new_linked)
    o, d = existing.alias("o"), delta.alias("d")
    both = o.join(d, _KEYS, "full")

    def _sum(col: str):
        return (
            F.coalesce(f"o.{col}", F.lit(0)) + F.coalesce(f"d.{col}", F.lit(0))
        ).cast("long").alias(col)

    return both.select(
        *_KEYS,
        _sum("n_mentions"),
        _sum("n_docs"),
        F.greatest("o.max_prob", "d.max_prob").alias("max_prob"),
        F.least("o.min_doc_id", "d.min_doc_id").alias("min_doc_id"),
    )


def write_graph(graph: DataFrame, path: str) -> None:
    """Partitioned sink (Iceberg `writeTo(...).append()` on a cluster;
    parquet + pred partition directories in the sandbox). Partitioning
    by pred keeps per-relation scans pruned; bucketing by subj would
    co-locate future subject joins."""
    graph.write.mode("overwrite").partitionBy("pred").parquet(path)


def entity_degrees(graph: DataFrame) -> DataFrame:
    """Degree centrality over the materialized KG: per-entity out/in
    triple-type degrees, distinct predicate count, mention-weighted
    degree — the first query every KG consumer runs ("what are the hub
    entities?").

    Shape: union-all of the two endpoint projections + ONE aggregation.
    Every aggregate is algebraic (sum / count-distinct-over-small-pred-
    set), so map-side combine does the heavy lifting; at 10^12 triples
    hub entities are exactly the skewed keys the upstream
    materialization already spreads by doc, and the same two-stage pattern
    applies here if a single entity's edge list outgrows a reducer.
    """
    out = graph.select(
        F.col("subj").alias("entity"), F.lit(1).alias("is_out"),
        "pred", "n_mentions",
    )
    inn = graph.select(
        F.col("obj").alias("entity"), F.lit(0).alias("is_out"),
        "pred", "n_mentions",
    )
    return out.unionByName(inn).groupBy("entity").agg(
        F.sum("is_out").cast("long").alias("out_degree"),
        F.sum(1 - F.col("is_out")).cast("long").alias("in_degree"),
        F.countDistinct("pred").cast("long").alias("n_preds"),
        F.sum("n_mentions").cast("long").alias("weighted_degree"),
    )


def two_hop_paths(graph: DataFrame, min_mentions: int = 1) -> DataFrame:
    """Graph traversal shape: (a)-[p1]->(b)-[p2]->(c) paths through the
    materialized KG — the join template multi-hop queries (and iterative
    algorithms like PageRank) are built from.

    Self equi-join on the bridge entity: both sides shuffle-partition on
    the SAME key (b), so Catalyst plans one exchange per side and no
    broadcast of the (potentially huge) edge set; hub-entity skew on b
    is the AQE skew-join case, or salt b.
    Self-loops through the bridge (a == b or b == c) are excluded;
    a == c (length-2 cycles) are kept — they are real paths.
    """
    e1 = graph.filter(F.col("n_mentions") >= min_mentions).select(
        F.col("subj").alias("a"), F.col("pred").alias("p1"),
        F.col("obj").alias("b"),
    )
    e2 = graph.filter(F.col("n_mentions") >= min_mentions).select(
        F.col("subj").alias("b"), F.col("pred").alias("p2"),
        F.col("obj").alias("c"),
    )
    return (
        e1.join(e2, "b")
        .filter((F.col("a") != F.col("b")) & (F.col("b") != F.col("c")))
        .select("a", "p1", "b", "p2", "c")
    )


def entity_neighbor_sim(
    graph: DataFrame, hub_cap: int = N_HUB_CAP
) -> DataFrame:
    """KG entity resolution by structural similarity: Jaccard over
    undirected neighbor sets — two entities that connect to mostly the
    same things are duplicate-entity candidates (the blocking+scoring
    stage of ER systems like Dedupe/Magellan, applied to the graph
    itself; complements the surface-form MinHash linking path in
    operators/linking.py).

    Candidate generation is the common-neighbor equi-join: explode each
    entity's neighbor set, self-join on the shared neighbor, aggregate
    shared counts. STOP-NODE REMOVAL bounds it at scale: neighbors with
    undirected degree > ``hub_cap`` are dropped from the sets BEFORE
    blocking (their per-key fanout is degree^2 pairs, and a hub shared
    by everything carries no resolution signal — the ER analogue of
    dropping stop-words in prefix filtering). Jaccard is then exact
    over the capped sets: shared / (d1 + d2 - shared), integer counts
    and ONE exactly-rounded division, so the oracle matches
    bit-for-bit.

    Output: (e1, e2, shared, d1, d2, jaccard) for every candidate pair
    (>=1 shared non-hub neighbor), e1 < e2.
    """
    e = (
        graph.select("subj", "obj")
        .filter(F.col("subj") != F.col("obj"))
        .distinct()
    )
    nbrs = (
        e.select(F.col("subj").alias("ent"), F.col("obj").alias("nb"))
        .unionByName(
            e.select(F.col("obj").alias("ent"), F.col("subj").alias("nb"))
        )
        .distinct()
    )
    deg = nbrs.groupBy("ent").agg(F.count("*").cast("long").alias("deg"))
    capped = nbrs.join(
        deg.filter(F.col("deg") <= hub_cap).select(F.col("ent").alias("nb")),
        "nb",
    )
    cdeg = capped.groupBy("ent").agg(F.count("*").cast("long").alias("d"))
    a = capped.select(F.col("ent").alias("e1"), "nb")
    b = capped.select(F.col("ent").alias("e2"), "nb")
    pairs = (
        a.join(b, "nb")
        .filter(F.col("e1") < F.col("e2"))
        .groupBy("e1", "e2")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    d1 = cdeg.select(F.col("ent").alias("e1"), F.col("d").alias("d1"))
    d2 = cdeg.select(F.col("ent").alias("e2"), F.col("d").alias("d2"))
    jac = F.col("shared").cast("double") / (
        F.col("d1") + F.col("d2") - F.col("shared")
    ).cast("double")
    return (
        pairs.join(d1, "e1")
        .join(d2, "e2")
        .select("e1", "e2", "shared", "d1", "d2", jac.alias("jaccard"))
    )


def pred_cooccurrence(graph: DataFrame) -> DataFrame:
    """KG schema induction: same-entity-pair predicate co-occurrence
    with AMIE-style rule confidence (Galárraga et al. 2013 — the
    support/confidence core of p1(x,y) => p2(x,y) mining, the simplest
    rule shape; multi-hop bodies compose from two_hop_paths the same
    way).

    For every unordered predicate pair (p1 < p2): ``n_both`` = number of
    distinct (subj, obj) entity pairs carrying BOTH predicates,
    ``n_p1``/``n_p2`` = each predicate's entity-pair support, and the
    two directional confidences n_both/n_p1 and n_both/n_p2 (each ONE
    exactly-rounded division over integer counts — oracle
    bit-identical). High confidence both ways flags redundant /
    synonymous relation types; one-way flags implication.

    Scale shape: the self-join key is the (subj, obj) pair, whose
    per-key fanout is bounded by the predicate vocabulary (small by
    construction), not by entity degree — no hub blowup, unlike
    neighbor joins; the support table is |preds| rows -> broadcast.
    Assumes graph rows are unique per (subj, pred, obj), which
    materialize_graph guarantees by construction.
    """
    g = graph.select("subj", "pred", "obj")
    supp = g.groupBy("pred").agg(F.count("*").cast("long").alias("n"))
    a = g.select("subj", "obj", F.col("pred").alias("p1"))
    b = g.select("subj", "obj", F.col("pred").alias("p2"))
    both = (
        a.join(b, ["subj", "obj"])
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    s1 = supp.select(F.col("pred").alias("p1"), F.col("n").alias("n_p1"))
    s2 = supp.select(F.col("pred").alias("p2"), F.col("n").alias("n_p2"))
    return (
        both.join(F.broadcast(s1), "p1")
        .join(F.broadcast(s2), "p2")
        .select(
            "p1", "p2", "n_both", "n_p1", "n_p2",
            (F.col("n_both").cast("double") / F.col("n_p1").cast("double")
             ).alias("conf_1_to_2"),
            (F.col("n_both").cast("double") / F.col("n_p2").cast("double")
             ).alias("conf_2_to_1"),
        )
    )


def pred_inverse(graph: DataFrame) -> DataFrame:
    """KG schema induction, the inverse-rule shape: p1(x, y) => p2(y, x)
    (AMIE's other length-2 rule family; p1 == p2 detects SYMMETRIC
    predicates). Complements pred_cooccurrence, which covers the
    same-direction p1(x,y) => p2(x,y) shape.

    For every predicate pair with p1 <= p2: ``n_inv`` = number of
    (x, y) entity pairs where p1(x, y) and p2(y, x) both hold (for
    p1 == p2 each symmetric pair contributes from both orientations and
    each self-loop once — a deterministic convention the oracle
    mirrors), supports and the two directional confidences as in
    pred_cooccurrence (single exactly-rounded divisions).

    Scale shape: identical to pred_cooccurrence — the join key is the
    (x, y) pair against the REVERSED edge list, per-key fanout bounded
    by the predicate vocabulary, support table broadcast. The p1 <= p2
    canonicalization dedups the (p1,p2)/(p2,p1) mirror images that the
    reversed join would otherwise emit twice.
    """
    g = graph.select("subj", "pred", "obj")
    supp = g.groupBy("pred").agg(F.count("*").cast("long").alias("n"))
    a = g.select("subj", "obj", F.col("pred").alias("p1"))
    rev = g.select(
        F.col("obj").alias("subj"), F.col("subj").alias("obj"),
        F.col("pred").alias("p2"),
    )
    inv = (
        a.join(rev, ["subj", "obj"])
        .filter(
            (F.col("p1") < F.col("p2"))
            | ((F.col("p1") == F.col("p2")) & (F.col("subj") <= F.col("obj")))
        )
        .groupBy("p1", "p2")
        .agg(F.count("*").cast("long").alias("n_inv"))
    )
    s1 = supp.select(F.col("pred").alias("p1"), F.col("n").alias("n_p1"))
    s2 = supp.select(F.col("pred").alias("p2"), F.col("n").alias("n_p2"))
    return (
        inv.join(F.broadcast(s1), "p1")
        .join(F.broadcast(s2), "p2")
        .select(
            "p1", "p2", "n_inv", "n_p1", "n_p2",
            (F.col("n_inv").cast("double") / F.col("n_p1").cast("double")
             ).alias("conf_1_to_2"),
            (F.col("n_inv").cast("double") / F.col("n_p2").cast("double")
             ).alias("conf_2_to_1"),
        )
    )


def pred_functionality(graph: DataFrame) -> DataFrame:
    """Per-predicate (inverse-)functionality — the AMIE PCA-confidence
    ingredient and the standard KG-quality panel row: ``functionality``
    = distinct subjects / triples (1.0 = every subject has exactly one
    object: a functional property like birth-date), ``inv_functionality``
    the same for objects. Each ratio is ONE exactly-rounded division
    over exact longs.

    Scale shape: the distinct-subject and distinct-object counts run as
    two-stage exact count-distincts — dedup shuffles on (pred, entity),
    which stays skew-free even when a single predicate dominates the
    corpus (the reducer key includes the entity); the per-pred re-count
    then aggregates tiny deduped relations. A direct
    groupBy(pred).countDistinct would funnel every triple of a hot
    predicate through one reducer.
    """
    g = graph.select("subj", "pred", "obj")
    n = g.groupBy("pred").agg(F.count("*").cast("long").alias("n_triples"))
    ns = (
        g.select("pred", "subj").distinct()
        .groupBy("pred").agg(F.count("*").cast("long").alias("n_subj"))
    )
    no = (
        g.select("pred", "obj").distinct()
        .groupBy("pred").agg(F.count("*").cast("long").alias("n_obj"))
    )
    return (
        n.join(ns, "pred").join(no, "pred")
        .select(
            "pred", "n_triples", "n_subj", "n_obj",
            (F.col("n_subj").cast("double") / F.col("n_triples").cast("double")
             ).alias("functionality"),
            (F.col("n_obj").cast("double") / F.col("n_triples").cast("double")
             ).alias("inv_functionality"),
        )
    )


def pred_type_signature(decoded: DataFrame) -> DataFrame:
    """Relation type signatures: for each predicate, the distribution of
    (head entity type, tail entity type) slots over decoded triples —
    the schema-induction step that turns an untyped triple store into
    "works_for: PER -> ORG (0.94)". Consumes the typed decoded relation
    (label, h_type, t_type; e.g. scoring.lexical_topk1_triples with
    formatted=False, which keeps the types on the row, so no join back
    to mentions is needed).

    Output per (pred, subj_type, obj_type): ``n`` supporting triples,
    ``n_pred`` total for the predicate, and ``share`` = n / n_pred (one
    exactly-rounded division).

    Scale shape: the signature agg is a tiny-result groupBy with full
    map-side combine (cube of |labels| x |types|^2 keys), and the
    per-pred totals re-aggregate FROM the signature relation itself —
    no second pass over triples, and the totals join is broadcast.
    """
    sig = (
        decoded.groupBy(
            F.col("label").alias("pred"),
            F.col("h_type").alias("subj_type"),
            F.col("t_type").alias("obj_type"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = sig.groupBy("pred").agg(F.sum("n").cast("long").alias("n_pred"))
    return (
        sig.join(F.broadcast(tot), "pred")
        .select(
            "pred", "subj_type", "obj_type", "n", "n_pred",
            (F.col("n").cast("double") / F.col("n_pred").cast("double")
             ).alias("share"),
        )
    )


def components(graph: DataFrame, max_iter: int = 30) -> DataFrame:
    """Weakly connected components over the entity graph: (entity,
    component_id, component_size) for every entity, component_id = the
    lexicographically smallest member — the KG-hygiene query behind
    "is this one knowledge graph or forty disconnected fragments?".

    fixpoint.min_label_components over the DISTINCT undirected edge
    set. Rounds needed = O(component diameter); raises on
    non-convergence rather than returning partially merged components
    (ADVICE r2 contract).
    """
    labels = fixpoint.min_label_components(_edges(graph), max_iter, "components")
    sizes = labels.groupBy("root").agg(
        F.count("*").cast("long").alias("component_size")
    )
    return labels.join(sizes, "root").select(
        F.col("node").alias("entity"),
        F.col("root").alias("component_id"),
        "component_size",
    )


def kcore(graph: DataFrame, k: int = 2, max_iter: int = 30) -> DataFrame:
    """K-core decomposition (fixed k): iteratively peel entities whose
    undirected distinct-neighbor degree is < k until the surviving
    induced subgraph is stable; return (entity, core_degree) for the
    survivors. The standard KG-cleaning pass — the k-core is the densely
    interlinked backbone; peeled nodes are the sparse fringe that
    single-link chains and tail entities produce.

    Scale shape: each round recomputes degrees over the SHRINKING edge
    set (one groupBy shuffle) and semi-joins survivors back — work
    decreases monotonically, and the round count is bounded by the
    peeling depth (≤ max node degree, in practice a handful). The loop
    is fixpoint.until_stable, which raises on non-convergence. The
    DuckDB oracle unrolls the same peel max_iter times (idempotent
    after fixpoint), so Spark failing loudly past max_iter keeps the
    two in lockstep.
    """
    edges = _edges(graph, both_ways=True).distinct()

    def peel(edges: DataFrame) -> DataFrame:
        deg = edges.groupBy("a").agg(F.count("*").cast("long").alias("deg"))
        survivors = deg.filter(F.col("deg") >= k).select("a")
        return (
            edges.join(survivors, "a", "left_semi")
            .join(survivors.withColumnRenamed("a", "b"), "b", "left_semi")
            .select("a", "b")
        )

    edges = fixpoint.until_stable(edges, peel, max_iter, "kcore")
    return (
        edges.groupBy("a")
        .agg(F.count("*").cast("long").alias("core_degree"))
        .select(F.col("a").alias("entity"), "core_degree")
    )


def pagerank_int(
    graph: DataFrame,
    iters: int = 5,
    scale: int = 10**9,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank over the directed entity graph in EXACT scaled-integer
    arithmetic: ranks are longs (initial mass `scale` per node), edge
    contributions are integer divisions (rank DIV out_degree), damping
    is the exact fraction damping_pct/100 applied with integer
    multiply-then-DIV. Every reduction is a sum of longs — associative,
    so the result is bit-identical regardless of partitioning, task
    order, or engine. Float PageRank cannot be hash-gated across two
    engines (double addition is not associative; Spark and DuckDB sum
    in different orders); this formulation trades ≤1e-9 relative
    truncation error per term for exact reproducibility — the property
    a deterministic training-data pipeline actually needs. Fixed
    iteration count (the production form at 10^12 edges: convergence
    checks cost a full pass; pipelines run a fixed budget).

    Per iteration: one shuffle keyed on subj (contribution join), one
    on obj (incoming sum); dangling mass (no-out-edge nodes) is
    redistributed uniformly, truncated DIV n. The rounds run through
    fixpoint.iterate, which cuts the lineage after each one. Building
    the plan counts the nodes, because n is a literal in it.
    Output: (entity, rank_scaled).
    """
    e = fixpoint.materialize(_edges(graph).toDF("src", "dst"))
    nodes = fixpoint.materialize(
        e.select(F.col("src").alias("entity"))
        .union(e.select(F.col("dst").alias("entity")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_scaled", F.lit(0).cast("long"))
    outdeg = e.groupBy("src").agg(F.count("*").cast("long").alias("odeg"))
    teleport = (100 - damping_pct) * scale // 100

    def step(ranks: DataFrame) -> DataFrame:
        with_deg = ranks.join(
            outdeg.withColumnRenamed("src", "entity"), "entity", "left"
        )
        # dangling nodes: no out-edges -> redistribute their mass DIV n.
        # The one-row aggregate rides in as a BROADCAST crossJoin (no
        # driver collect, no second pass over the checkpointed ranks).
        dang = with_deg.filter(F.col("odeg").isNull()).agg(
            F.coalesce(F.sum("rank_scaled"), F.lit(0)).cast("long").alias("_dang")
        )
        contrib = (
            e.join(
                with_deg.filter(F.col("odeg").isNotNull()).select(
                    F.col("entity").alias("src"),
                    F.expr("rank_scaled DIV odeg").alias("c"),
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("incoming"))
        )
        return (
            nodes.join(contrib.withColumnRenamed("dst", "entity"), "entity", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "entity",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({damping_pct} * (coalesce(incoming, 0L)"
                        f" + (_dang DIV {n}L))) DIV 100"
                    )
                ).cast("long").alias("rank_scaled"),
            )
        )

    ranks = nodes.withColumn("rank_scaled", F.lit(scale).cast("long"))
    return fixpoint.iterate(ranks, step, iters)


def triangles(graph: DataFrame) -> DataFrame:
    """Directed 3-cycles (a)->(b)->(c)->(a) in the KG, pred-agnostic.

    Each directed 3-cycle has exactly one rotation whose first entity
    is the smallest, so ``a < b AND a < c`` canonicalizes without a
    post-hoc dedup. Two self-joins on the DISTINCT edge set — the same
    co-partitioned bridge-join shape as two_hop_paths, with the closing
    join keyed on (c, a); at 10^12 edges this is the classic
    triangle-enumeration join plan (order vertices by degree before
    joining to bound the skew, the standard trick — noted, not needed
    at sandbox scale).
    """
    e = (
        graph.select("subj", "obj")
        .filter(F.col("subj") != F.col("obj"))
        .distinct()
    )
    e1 = e.select(F.col("subj").alias("a"), F.col("obj").alias("b"))
    e2 = e.select(F.col("subj").alias("b"), F.col("obj").alias("c"))
    e3 = e.select(F.col("subj").alias("c"), F.col("obj").alias("a"))
    return (
        e1.join(e2, "b")
        .filter(F.col("c") != F.col("a"))
        .join(e3, ["c", "a"])
        .filter((F.col("a") < F.col("b")) & (F.col("a") < F.col("c")))
        .select("a", "b", "c")
    )


def entity_pmi(linked: DataFrame) -> DataFrame:
    """Cross-document entity co-occurrence weighting: for every
    unordered canonical-entity pair appearing in the same document,
    the doc-level co-occurrence count and the PMI ratio in its
    exactly-computable form ``lift`` = (n_co * N) / (n_e1 * n_e2) —
    PMI without the log, ONE exactly-rounded division of exact long
    products, so the oracle matches bit-for-bit (log is monotone, so
    ranking by lift == ranking by PMI). The standard KG edge-weighting /
    entity-relatedness signal (e.g. Milne-Witten style relatedness
    inputs) a linker or recommender consumes downstream.

    Scale shape: per-doc entity sets come from one explode + distinct on
    (doc_id, entity) — skew-free key; pair generation is a DOC-LOCAL
    self-join on doc_id (per-key fanout bounded by entities-per-doc,
    never by corpus-wide entity frequency — hub entities do NOT blow up
    this join, unlike an entity-keyed join); marginals are a tiny
    re-agg of the deduped relation, joined back by shuffle on each
    endpoint; the corpus doc count rides along as a single-row
    broadcast cross join.
    """
    ents = (
        linked.select("doc_id", F.col("subj").alias("ent"))
        .unionByName(linked.select("doc_id", F.col("obj").alias("ent")))
        .distinct()
    )
    n_e = ents.groupBy("ent").agg(F.count("*").cast("long").alias("n"))
    n_docs = ents.select("doc_id").distinct().agg(
        F.count("*").cast("long").alias("n_docs_total")
    )  # 1 row -> broadcast
    a = ents.select("doc_id", F.col("ent").alias("e1"))
    b = ents.select("doc_id", F.col("ent").alias("e2"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("e1") < F.col("e2"))
        .groupBy("e1", "e2")
        .agg(F.count("*").cast("long").alias("n_co"))
    )
    m1 = n_e.select(F.col("ent").alias("e1"), F.col("n").alias("n_e1"))
    m2 = n_e.select(F.col("ent").alias("e2"), F.col("n").alias("n_e2"))
    return (
        co.join(m1, "e1")
        .join(m2, "e2")
        .join(F.broadcast(n_docs))
        .select(
            "e1", "e2", "n_co", "n_e1", "n_e2", "n_docs_total",
            (
                (F.col("n_co") * F.col("n_docs_total")).cast("double")
                / (F.col("n_e1") * F.col("n_e2")).cast("double")
            ).alias("lift"),
        )
    )


def kg_fusion(graph: DataFrame) -> DataFrame:
    """Knowledge fusion / conflict resolution: for every (subj, pred)
    slot, elect the single best object across all source documents —
    highest supporting-mention count, ties broken by lexicographically
    smallest object (deterministic, partition-order-free). The classic
    truth-discovery step (Knowledge Vault-style voting, reference
    semantics: one canonical value per functional slot) that turns an
    extraction soup into a clean property table.

    Output: subj, pred, obj (winner), n_support (its mentions),
    n_objects (competing values), n_total (all mentions for the slot),
    support_share = n_support / n_total (ONE exactly-rounded division
    of exact longs — bit-reproducible vs the oracle).

    Scale shape: input is already the materialized graph (one row per
    (subj,pred,obj)), so this is a single map-side-combinable groupBy
    on (subj,pred) — strictly fewer rows than the graph itself, and the
    argmax rides inside the aggregate as min(struct(-n, obj)) instead
    of a window (no per-group sort, no skew beyond the slot's own
    value count).
    """
    w = F.min(
        F.struct((-F.col("n_mentions")).alias("neg"), F.col("obj").alias("obj"))
    )
    per_slot = graph.groupBy("subj", "pred").agg(
        w.alias("_w"),
        F.sum("n_mentions").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_objects"),
    )
    n_support = (-F.col("_w.neg")).cast("long")
    return per_slot.select(
        "subj",
        "pred",
        F.col("_w.obj").alias("obj"),
        n_support.alias("n_support"),
        "n_objects",
        "n_total",
        (n_support.cast("double") / F.col("n_total").cast("double")).alias(
            "support_share"
        ),
    )


def kg_adjacency(graph: DataFrame) -> DataFrame:
    """Adjacency-list materialization (the SPO index layout): one row
    per subject with its sorted outgoing (pred, obj) posting list — the
    serving-side format a triple store / GraphFrames-style traversal
    loads, built once from the materialized graph.

    The list is emitted as a '|'-joined, ','-separated sorted string
    (deterministic; avoids array-vs-list representation skew between
    engines in the value-hash gate). Scale shape: one groupBy(subj) —
    hub subjects produce long rows, which is inherent to the format;
    production shards hot subjects by a (subj, page) key once a row
    exceeds the page size (documented, not needed at sandbox scale).
    """
    edge = F.concat_ws("|", "pred", "obj")
    return graph.groupBy("subj").agg(
        F.count("*").cast("long").alias("out_degree"),
        F.sum("n_mentions").cast("long").alias("n_mentions"),
        F.array_join(F.array_sort(F.collect_list(edge)), ",").alias("adjacency"),
    )


def _entity_index(ents: DataFrame, n_buckets: int = 64) -> DataFrame:
    """(entity, idx) with idx = dense 1..|V| rank of the sorted entity
    list — the distributed zipWithIndex shape: bucket by a pure hash of
    the entity, row_number WITHIN each bucket (never a global
    single-partition window), then add per-bucket offsets computed by a
    prefix sum over the n_buckets-row count table. Order is
    (bucket, entity) — deterministic and engine-independent.
    """
    from pyspark.sql import Window

    from glirel_spark.operators.corpus_dedup import _char_hash

    b = ents.select("entity", (_char_hash(F.col("entity")) % n_buckets).alias("bucket"))
    counts = b.groupBy("bucket").agg(F.count("*").cast("long").alias("c"))
    # n_buckets rows: the unpartitioned running-sum window is bounded by
    # construction (64 rows), not by data volume
    off_w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "bucket", F.coalesce(F.sum("c").over(off_w), F.lit(0)).alias("off")
    )
    rn_w = Window.partitionBy("bucket").orderBy("entity")
    return (
        b.join(F.broadcast(offs), "bucket")
        .withColumn("idx", (F.col("off") + F.row_number().over(rn_w)).cast("long"))
        .select("entity", "idx")
    )


def kg_negative_samples(graph: DataFrame) -> DataFrame:
    """Filtered negative sampling for KG-embedding training (TransE /
    DistMult protocol): for every true (subj, pred, obj) edge, corrupt
    the tail with a pseudo-random entity drawn DETERMINISTICALLY from
    the entity vocabulary — neg_idx = polyhash(subj␟pred␟obj) mod |V| —
    and flag whether the corruption is a genuine negative (is_clean =
    the corrupted triple does not itself appear in the graph, the
    'filtered' setting of the link-prediction literature).

    No RNG: the polynomial char hash is a pure function of the edge, so
    sampling is reproducible across runs, partitionings, and engines
    (the DuckDB oracle replays it exactly).

    Scale shape: the entity index is a dimension (|V| entities, orders
    of magnitude below edge count) built with the bucketed zipWithIndex
    above; edges pick up their negative via ONE broadcast join on idx,
    and the is_clean flag is ONE left join back on the graph's own
    (subj, pred, obj) key — skew-bounded by the spo key like every
    other graph-side join.
    """
    from glirel_spark.operators.corpus_dedup import _char_hash

    edges = graph.select("subj", "pred", "obj")
    ents = (
        edges.select(F.col("subj").alias("entity"))
        .unionByName(edges.select(F.col("obj").alias("entity")))
        .distinct()
    )
    idx = _entity_index(ents)
    n_e = idx.agg(F.count("*").cast("long").alias("n_entities"))
    h = _char_hash(F.concat_ws("\x1f", "subj", "pred", "obj"))
    picked = (
        edges.withColumn("_h", h)
        .crossJoin(F.broadcast(n_e))
        .withColumn("_neg_idx", (F.col("_h") % F.col("n_entities")) + 1)
        .join(F.broadcast(idx), F.col("_neg_idx") == F.col("idx"))
        .select("subj", "pred", "obj", F.col("entity").alias("neg_obj"))
    )
    truth = edges.select(
        F.col("subj").alias("_ts"), F.col("pred").alias("_tp"), F.col("obj").alias("_to")
    )
    return picked.join(
        truth,
        (F.col("subj") == F.col("_ts"))
        & (F.col("pred") == F.col("_tp"))
        & (F.col("neg_obj") == F.col("_to")),
        "left",
    ).select(
        "subj", "pred", "obj", "neg_obj", F.col("_ts").isNull().alias("is_clean")
    )


def kg_link_pred(graph: DataFrame, top_n: int = 100) -> DataFrame:
    """KG-completion candidate generation by common-neighbor counting:
    rank NON-adjacent entity pairs by how many neighbors they share in
    the undirected entity graph — the standard structural
    link-prediction baseline (Liben-Nowell & Kleinberg) feeding a
    downstream scorer. Top-N under the deterministic total order
    (common_neighbors DESC, a, b).

    Scale shape: wedge enumeration is ONE self-join of the symmetric
    neighbor relation on the shared-neighbor key — fanout is quadratic
    in per-node degree, so production caps hub degree before the join
    (the entity_neighbor_sim NEIGH_HUB_CAP pattern; exact here, where
    degrees are sandbox-small); existing edges drop out via a left-anti
    join; the final top-N is TakeOrderedAndProject (per-partition heaps
    + single k-row merge), never a global sort.
    """
    e = graph.select("subj", "obj").filter(F.col("subj") != F.col("obj"))
    nb = (
        e.select(F.col("subj").alias("x"), F.col("obj").alias("y"))
        .unionByName(e.select(F.col("obj").alias("x"), F.col("subj").alias("y")))
        .distinct()
    )
    l = nb.select(F.col("x").alias("a"), F.col("y").alias("n"))
    r = nb.select(F.col("x").alias("b"), F.col("y").alias("n"))
    cn = (
        l.join(r, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("common_neighbors"))
    )
    adj = nb.filter(F.col("x") < F.col("y")).select(
        F.col("x").alias("a"), F.col("y").alias("b")
    )
    return (
        cn.join(adj, ["a", "b"], "left_anti")
        .orderBy(F.desc("common_neighbors"), "a", "b")
        .limit(top_n)
    )


def kg_bfs(graph: DataFrame, max_iter: int = 30) -> DataFrame:
    """Multi-hop reachability with exact hop distance (single-source
    BFS) from the lexicographically smallest entity — the traversal
    primitive behind "how far is everything from this hub?" /
    neighborhood-expansion queries a KG serving layer runs. Output:
    (entity, dist) for every entity reachable over the undirected edge
    set, seed included at dist 0.

    Frontier-only iteration (fixpoint.expand_frontier) — the
    scale-critical property: each round joins ONLY the current frontier
    against the edge relation, so its cost is proportional to the
    frontier's edge incidence, never the full visited set. Rounds
    needed = eccentricity of the seed; raises on hitting max_iter with
    a live frontier rather than returning truncated distances (the
    DuckDB oracle bounds its recursion at the same depth, so the
    engines stay in lockstep by contract).
    """
    sym = _edges(graph, both_ways=True)
    seed = sym.agg(F.min("a").alias("entity")).withColumn(
        "dist", F.lit(0).cast("long")
    )
    nbrs = sym.withColumnRenamed("a", "entity")

    def hop(frontier: DataFrame, d: int) -> DataFrame:
        return frontier.join(nbrs, "entity").select(
            F.col("b").alias("entity"), F.lit(d).cast("long").alias("dist")
        )

    return fixpoint.expand_frontier(seed, hop, "entity", max_iter, "kg_bfs")


def kg_degree_dist(graph: DataFrame) -> DataFrame:
    """Degree distribution of the entity graph: (degree, n_entities) —
    the one-page skew diagnostic (Zipf exponent eyeball, hub census)
    that decides salting factors and hub caps for every other graph
    join. degree = out + in over the materialized edge multiset.

    Tiny-result double aggregation: per-entity degrees (skew-free
    (entity) key after the spo-grouped input), then the histogram
    rollup whose key count is bounded by the max degree.
    """
    deg = entity_degrees(graph)
    return (
        deg.select(
            (F.col("out_degree") + F.col("in_degree")).cast("long").alias("degree")
        )
        .groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_entities"))
    )


def kg_inferred_triples(
    graph: DataFrame, min_conf: float = 0.5, min_support: int = 2
) -> DataFrame:
    """Rule-based KB completion: APPLY the induced inverse/symmetric
    rules (pred_inverse) back to the graph and materialize the inferred
    triples that are not already present — the forward-chaining step
    that closes "capital_of(x,y)" into "has_capital(y,x)" once the rule
    clears the confidence bar. Output: (subj, pred, obj, src_pred,
    conf) — the inferred triple, the premise predicate, and the
    applied rule's confidence; when several rules infer the same
    triple, the (max conf, then min src_pred) one wins
    (deterministic).

    Scale shape: the rule table is bounded by the predicate vocabulary
    squared — a broadcast dimension; inference is ONE broadcast join of
    the edge list against it (no shuffle of the graph), the dedup
    groupBy keys on the inferred spo (skew-bounded like every graph
    agg), and the novelty check is one anti-join on the same key.
    """
    rules = pred_inverse(graph)
    ra = rules.filter(
        (F.col("conf_1_to_2") >= min_conf) & (F.col("n_inv") >= min_support)
    ).select(
        F.col("p1").alias("src"),
        F.col("p2").alias("dst"),
        F.col("conf_1_to_2").alias("conf"),
    )
    rb = rules.filter(
        (F.col("conf_2_to_1") >= min_conf)
        & (F.col("n_inv") >= min_support)
        & (F.col("p1") != F.col("p2"))
    ).select(
        F.col("p2").alias("src"),
        F.col("p1").alias("dst"),
        F.col("conf_2_to_1").alias("conf"),
    )
    r = ra.unionByName(rb)
    e = graph.select("subj", "pred", "obj")
    inf = e.join(F.broadcast(r), F.col("pred") == F.col("src")).select(
        F.col("obj").alias("i_subj"),
        F.col("dst").alias("i_pred"),
        F.col("subj").alias("i_obj"),
        F.col("src").alias("src_pred"),
        "conf",
    )
    best = (
        inf.groupBy("i_subj", "i_pred", "i_obj")
        .agg(
            F.min(
                F.struct(
                    (-F.col("conf")).alias("neg"), F.col("src_pred").alias("sp")
                )
            ).alias("_w")
        )
        .select(
            F.col("i_subj").alias("subj"),
            F.col("i_pred").alias("pred"),
            F.col("i_obj").alias("obj"),
            F.col("_w.sp").alias("src_pred"),
            (-F.col("_w.neg")).alias("conf"),
        )
    )
    return best.join(e, ["subj", "pred", "obj"], "left_anti")


def kg_evidence(linked: DataFrame) -> DataFrame:
    """Per-triple provenance postings: the sorted list of source
    documents supporting each (subj, pred, obj) plus its best score —
    the lineage record the north-rule's "per-partition lineage" asks
    for at triple granularity (audit: WHY is this edge in the graph?).

    Emitted as a ','-joined sorted doc_id string. One groupBy on the
    spo key over the (keys, doc_id)-deduped relation — the same
    skew-free two-stage shape as the n_docs count in materialization;
    hub triples produce long rows, paged by (triple, page) in a
    production sink exactly like kg_adjacency.
    """
    d = linked.select("subj", "pred", "obj", "doc_id", "prob")
    per_doc = d.groupBy("subj", "pred", "obj", "doc_id").agg(
        F.max("prob").alias("_p")
    )
    return per_doc.groupBy("subj", "pred", "obj").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("_p").alias("max_prob"),
        F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias(
            "doc_ids"
        ),
    )


def pred_top_entities(graph: DataFrame, k: int = 5) -> DataFrame:
    """Per-predicate hub census: the top-k subjects by supporting
    mentions for every predicate, with rank — the "who dominates
    works_for?" slice a KG browser shows and the hot-key list the
    salting configuration feeds from.

    Window partitioned BY PREDICATE (never a global sort); per-pred
    subject totals are pre-aggregated first so the window input is the
    (pred, subj) relation, not the edge multiset. Deterministic order
    (n_mentions DESC, subj ASC).
    """
    from pyspark.sql import Window

    per = graph.groupBy("pred", "subj").agg(
        F.sum("n_mentions").cast("long").alias("n_mentions")
    )
    w = Window.partitionBy("pred").orderBy(
        F.desc("n_mentions"), F.asc("subj")
    )
    return (
        per.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("pred", "rank", "subj", "n_mentions")
    )


def kg_ntriples(graph: DataFrame) -> DataFrame:
    """RDF N-Triples serialization of the materialized graph — the
    interchange export a downstream triple store bulk-loads. One line
    per edge: ``<e/SUBJ> <p/PRED> <e/OBJ> .`` under a fixed base IRI,
    spaces in surface-form ids underscore-escaped (deterministic,
    engine-neutral; a production exporter percent-encodes per RFC 3987
    — same map-only shape).

    Pure projection over the graph relation: zero shuffles, written
    with the same partitioned sink as write_graph.
    """
    def iri(col: str, kind: str):
        return F.concat(
            F.lit(f"<{kind}/"),
            F.replace(F.col(col), F.lit(" "), F.lit("_")),
            F.lit(">"),
        )

    line = F.concat_ws(
        " ", iri("subj", "e"), iri("pred", "p"), iri("obj", "e"), F.lit(".")
    )
    return graph.select(line.alias("ntriple"))


def pred_path_cooccurrence(graph: DataFrame) -> DataFrame:
    """Meta-path census: frequencies of length-2 predicate paths
    p1 -> p2 through a shared bridge entity (x -p1-> b -p2-> y) — the
    schema-level statistic meta-path mining (PathSim family) and join
    planning both start from: which predicate compositions actually
    occur, and how often.

    Output: (p1, p2, n_paths, n_bridges) — total path instances and
    distinct bridge entities carrying them.

    Scale shape: the same co-partitioned bridge self-join as
    two_hop_paths, but aggregated straight to the |preds|^2 key space —
    map-side combine collapses the quadratic wedge fanout to a tiny
    result; n_bridges is the standard two-stage exact count-distinct
    ((p1, p2, b) dedup first, skew-free).
    """
    e = graph.select("subj", "pred", "obj").filter(F.col("subj") != F.col("obj"))
    l = e.select(F.col("pred").alias("p1"), F.col("obj").alias("b"))
    r = e.select(F.col("pred").alias("p2"), F.col("subj").alias("b"))
    w = l.join(r, "b")
    paths = w.groupBy("p1", "p2").agg(F.count("*").cast("long").alias("n_paths"))
    bridges = (
        w.select("p1", "p2", "b")
        .distinct()
        .groupBy("p1", "p2")
        .agg(F.count("*").cast("long").alias("n_bridges"))
    )
    return paths.join(bridges, ["p1", "p2"])


def kg_walks(
    graph: DataFrame,
    walk_len: int = config.WALK_LEN,
    salt: str = config.WALK_SALT,
) -> DataFrame:
    """Deterministic DeepWalk-style rollouts: from EVERY entity, a
    length-``walk_len`` walk over the undirected edge set, where the
    step-t successor of node u is the neighbor v minimizing the salted
    polynomial hash of ``salt + t + ':' + u + '>' + v`` (ties by v).
    The node-embedding corpus generator (DeepWalk / node2vec p=q=1)
    with the RNG replaced by a hash — same neighbor-frequency behavior
    in aggregate, bit-for-bit replayable by the DuckDB oracle and
    independent of partitioning.

    Output: (entity, n1..n{walk_len}) — the visited node at each step.

    Scale shape: the successor function depends only on (t, u, v), so
    it is PRECOMPUTED as one relation: edges x walk_len rows, argmin
    per (t, u) via min(struct(hash, v)) — an algebraic aggregate, so
    map-side combine absorbs hub-entity fanout (a hub's candidate rows
    collapse to one partial min per map task; no hot reducer). The
    rollout is then walk_len hash joins, each moving |V| rows keyed on
    the current node — bounded by the ENTITY count, never edge count,
    and free of the per-round count() barrier an iterative frontier
    algorithm needs (the whole plan is one static DAG Catalyst/AQE can
    schedule end to end).
    """
    from glirel_spark.operators.corpus_dedup import _char_hash

    sym = _edges(graph, both_ways=True)
    steps = sym.select(
        "a", "b",
        F.explode(F.sequence(F.lit(1), F.lit(walk_len))).alias("t"),
    )
    h = _char_hash(
        F.concat(
            F.lit(salt), F.col("t").cast("string"), F.lit(":"),
            F.col("a"), F.lit(">"), F.col("b"),
        )
    )
    # one consumer per rollout step: materialize once (on a cluster,
    # write the successor table) instead of recomputing the argmin
    # aggregation walk_len times
    succ = fixpoint.materialize(
        steps.withColumn("_h", h)
        .groupBy("t", "a")
        .agg(F.min(F.struct(F.col("_h").alias("h"), F.col("b").alias("b"))).alias("_m"))
        .select("t", "a", F.col("_m.b").alias("nxt"))
    )
    walk = (
        sym.select("a")
        .distinct()
        .select(F.col("a").alias("entity"), F.col("a").alias("_cur"))
    )
    for t in range(1, walk_len + 1):
        st = succ.filter(F.col("t") == t).select(
            F.col("a").alias("_cur"), F.col("nxt")
        )
        walk = (
            walk.join(st, "_cur")
            .drop("_cur")
            .withColumnRenamed("nxt", f"n{t}")
            .withColumn("_cur", F.col(f"n{t}"))
        )
    return walk.drop("_cur")


def kg_distant_supervision(
    linked: DataFrame, min_support: int = config.DS_MIN_SUPPORT
) -> DataFrame:
    """Distant supervision (Mintz et al. 2009): align the KB against
    raw entity co-occurrence to mine silver training examples. For
    every ordered entity pair (s, o) co-occurring in a document and
    present in the KB as (s, p, o), that document supports the triple;
    documents where the extractor did NOT itself emit (s, p, o) are the
    NEW silver examples distant supervision exists to harvest. Kept
    only when distinct supporting documents >= ``min_support`` (the
    classic noise gate).

    Output: (subj, pred, obj, n_support_docs, n_new_docs,
    first_new_doc) — first_new_doc = '' when every supporting doc
    already had the triple extracted.

    Scale shape: per-doc entity sets via explode + distinct on
    (doc_id, entity) — skew-free key; pair generation is the DOC-LOCAL
    self-join (fanout bounded by entities-per-doc, hub-entity safe,
    same shape as entity_pmi); the KB join shuffles on (subj, obj)
    where the KB side is ~1 row per key; the extracted-marker join is
    keyed on (doc, subj, pred, obj) — skew-free; the final per-triple
    aggregate is all-algebraic (count / conditional sum / min), so
    map-side combine absorbs hot-triple skew.
    """
    ents = (
        linked.select("doc_id", F.col("subj").alias("ent"))
        .unionByName(linked.select("doc_id", F.col("obj").alias("ent")))
        .distinct()
    )
    cooc = (
        ents.select("doc_id", F.col("ent").alias("subj"))
        .join(ents.select("doc_id", F.col("ent").alias("obj")), "doc_id")
        .filter(F.col("subj") != F.col("obj"))
    )
    kb = linked.select("subj", "pred", "obj").distinct()
    extracted = (
        linked.select("doc_id", "subj", "pred", "obj")
        .distinct()
        .withColumn("_ex", F.lit(1))
    )
    aligned = cooc.join(kb, ["subj", "obj"]).join(
        extracted, ["doc_id", "subj", "pred", "obj"], "left"
    )
    new_doc = F.when(F.col("_ex").isNull(), F.col("doc_id"))
    return (
        aligned.groupBy("subj", "pred", "obj")
        .agg(
            F.count("*").cast("long").alias("n_support_docs"),
            F.sum(F.when(F.col("_ex").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_new_docs"),
            F.coalesce(F.min(new_doc), F.lit("")).alias("first_new_doc"),
        )
        .filter(F.col("n_support_docs") >= min_support)
    )


def kg_skipgram_pairs(
    walks: DataFrame,
    walk_len: int = config.WALK_LEN,
    window: int = config.SKIPGRAM_WINDOW,
) -> DataFrame:
    """(center, context, n_pairs): the skip-gram training multiset the
    DeepWalk walks exist to produce — every ordered (center, context)
    co-occurrence within ``window`` positions on a walk, aggregated to
    counts (what an SGNS embedding trainer consumes; DeepWalk
    §4.2/word2vec discipline).

    Scale shape: both position explodes are ROW-LOCAL ((walk_len+1)^2
    fanout per walk, a constant), so the only shuffle is the final
    (center, context) count — algebraic, map-side combined, and the
    pair key space is bounded by edges actually walked, so hot hubs
    collapse into single rows instead of skewing a reducer.
    """
    arr = F.array(F.col("entity"), *[F.col(f"n{t}") for t in range(1, walk_len + 1)])
    pos = walks.select(arr.alias("p")).select(
        F.posexplode("p").alias("i", "center"), F.col("p")
    )
    pairs = pos.select(
        "i", "center", F.posexplode("p").alias("j", "context")
    ).filter(
        (F.col("i") != F.col("j"))
        & (F.abs(F.col("i") - F.col("j")) <= window)
    )
    return pairs.groupBy("center", "context").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


def kg_closure(
    graph: DataFrame,
    pred: str = config.CLOSURE_PRED,
    max_iter: int = 30,
) -> DataFrame:
    """(src, dst, dist): the transitive closure of one predicate's edge
    set with exact shortest path length — the Datalog
    ``reach(x,y) :- edge(x,y); reach(x,z) :- reach(x,y), edge(y,z)``
    program every taxonomy / dependency / part-of hierarchy query
    reduces to, evaluated SEMI-NAIVELY: each round extends only the
    LAST ring of discovered pairs (never re-deriving the whole closure,
    the naive-evaluation trap), and an anti-join on the discovered set
    makes first discovery == minimum distance, cycles included.

    Scale shape: per round, one join keyed on the frontier's dst
    against the (small, single-predicate) edge relation, one distinct,
    one anti-join keyed on (src, dst) — all skew-bounded by the
    predicate subgraph, not the corpus. The loop is
    fixpoint.expand_frontier; rounds = longest shortest path; raises
    on a live frontier at dist ``max_iter`` (the DuckDB oracle bounds
    its recursion at the same depth, keeping the engines in lockstep
    by contract). Note the closure of a hub-heavy predicate is
    quadratic-in-reachable-set by DEFINITION — at 100 TB you run this
    on hierarchy predicates (bounded out-degree), not social edges;
    that judgment call is the caller's, the evaluation is safe either
    way.
    """
    e = fixpoint.materialize(
        _edges(graph.filter(F.col("pred") == pred)).toDF("src", "dst")
    )
    nxt = e.select(F.col("src").alias("dst"), F.col("dst").alias("_nxt"))

    def extend(frontier: DataFrame, d: int) -> DataFrame:
        return (
            frontier.join(nxt, "dst")
            .select(
                "src",
                F.col("_nxt").alias("dst"),
                F.lit(d + 1).cast("long").alias("dist"),
            )
            .filter(F.col("src") != F.col("dst"))
        )

    # the seed is dist 1, so max_iter - 1 rounds emit at most dist max_iter
    seed = e.withColumn("dist", F.lit(1).cast("long"))
    return fixpoint.expand_frontier(
        seed, extend, ["src", "dst"], max_iter - 1, "kg_closure"
    )


def kg_label_prop(graph: DataFrame, rounds: int = config.LP_ROUNDS) -> DataFrame:
    """(entity, community): synchronous label propagation (Raghavan et
    al. 2007) over the undirected edge set for a FIXED number of
    rounds — the deterministic variant: every node starts as its own
    label; each round every node adopts the most frequent label among
    its neighbors, ties broken by the smallest label. Fixed-round
    synchronous updates (not run-to-convergence with random order)
    make the result partitioning-independent and oracle-replayable;
    the round count is the resolution knob, exactly as LPA is run in
    practice on big graphs.

    Scale shape: per round, one join keyed on the edge source to move
    labels, one (node, label) count — map-side combinable, so a hub's
    incident messages collapse to partial counts per map task — and
    one argmax per node via min(struct(-n, label)) inside the
    aggregate (no window). The rounds run through fixpoint.iterate,
    which cuts the lineage after each one; total cost is rounds x
    O(|E|) with no growing state, unlike closure-style algorithms.
    The edge set is NOT deduped after the reversal: a reciprocal pair
    sends two messages each way, as the oracle counts them.
    """
    sym = fixpoint.materialize(_edges(graph, both_ways=True))

    def step(lab: DataFrame) -> DataFrame:
        msgs = sym.join(lab.withColumnRenamed("node", "a"), "a").select(
            F.col("b").alias("node"), "label"
        )
        counts = msgs.groupBy("node", "label").agg(
            F.count("*").cast("long").alias("n")
        )
        return (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("n")).alias("negn"), F.col("label").alias("label"))
                ).alias("_m")
            )
            .select("node", F.col("_m.label").alias("label"))
        )

    lab = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    lab = fixpoint.iterate(lab, step, rounds)
    return lab.select(F.col("node").alias("entity"), F.col("label").alias("community"))


def kg_bipartite_audit(graph: DataFrame, max_iter: int = 60) -> DataFrame:
    """(component_id, n_entities, n_conflicted, is_bipartite): per
    weakly-connected component, does the undirected entity graph
    2-color? A component is bipartite iff parity-BFS from its seed
    never reaches a node at BOTH parities (odd-cycle detection) —
    the schema-hygiene audit behind "is this relation actually a
    two-sided affiliation graph (user-item, author-paper) or did
    linking glue the sides together?".

    Scale shape: one components() fixpoint, then a MULTI-SOURCE parity
    BFS (fixpoint.expand_frontier) — all component seeds advance in
    the same frontier, so rounds are bounded by the largest component's
    odd-diameter, not the component count. State space is at most
    2 states per node ((node, parity) visited set, anti-join keyed on
    it — skew-free); raises on a live frontier at max_iter.
    The DuckDB oracle runs the same two recursions (reachability +
    parity walk) to natural fixpoint — state-finite, so no depth bound
    is needed there.
    """
    nbrs = fixpoint.materialize(
        _edges(graph, both_ways=True).withColumnRenamed("a", "node")
    )
    comp = components(graph).select("entity", "component_id")
    seed = (
        comp.select(F.col("component_id").alias("node"))
        .distinct()
        .withColumn("par", F.lit(0).cast("long"))
    )

    def hop(frontier: DataFrame, d: int) -> DataFrame:
        return frontier.join(nbrs, "node").select(
            F.col("b").alias("node"), (F.lit(1) - F.col("par")).alias("par")
        )

    visited = fixpoint.expand_frontier(
        seed, hop, ["node", "par"], max_iter, "kg_bipartite_audit"
    )
    conf = visited.groupBy("node").agg(
        (F.countDistinct("par") == 2).cast("long").alias("_c")
    )
    return (
        comp.join(conf, comp.entity == conf.node)
        .groupBy("component_id")
        .agg(
            F.count("*").cast("long").alias("n_entities"),
            F.sum("_c").cast("long").alias("n_conflicted"),
        )
        .withColumn("is_bipartite", F.col("n_conflicted") == 0)
    )


def kg_snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(subj, pred, obj, status, n_before, n_after): the changelog
    between two materialized graph snapshots — 'added' (absent
    before), 'removed' (absent after), 'changed' (support count
    moved), 'same' rows suppressed. What an incremental KG-maintenance
    pipeline publishes alongside each snapshot commit so downstream
    consumers can react to deltas instead of re-reading the world.

    Scale shape: ONE full-outer join keyed on the (subj, pred, obj)
    key of two already-aggregated snapshots (each ~1 row per key —
    no fanout), then a map-only status projection. Hot-entity skew was
    already absorbed by the materialization that produced the inputs.
    """
    o = old.select(
        *_KEYS, F.col("n_mentions").alias("n_before")
    )
    n = new.select(*_KEYS, F.col("n_mentions").alias("n_after"))
    j = o.join(n, _KEYS, "full_outer")
    status = (
        F.when(F.col("n_before").isNull(), F.lit("added"))
        .when(F.col("n_after").isNull(), F.lit("removed"))
        .when(F.col("n_before") != F.col("n_after"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status") != "same")
        .select(
            *_KEYS, "status",
            F.coalesce("n_before", F.lit(0)).cast("long").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
        )
    )


def kg_summary(graph: DataFrame) -> DataFrame:
    """One-row KG dashboard: (n_entities, n_edges_directed, n_preds,
    n_reciprocal, reciprocity_milli, density_micro) — the shape-of-the-
    graph numbers (size, predicate vocabulary, reciprocity = share of
    directed edges whose reverse also exists, density vs the complete
    digraph) a maintenance report prints at every snapshot commit.
    Integer counts; reciprocity_milli and density_micro are the two
    integer divisions.

    Scale shape: three independent aggregations (edge set, entity set,
    pred set) each fully map-side combinable, joined as single-row
    cross joins — no driver collect; reciprocity is one self-join of
    the deduped edge set on the reversed key (distinct (a,b) relation:
    ~1 row per key, skew already collapsed by the dedup).
    """
    ed = fixpoint.materialize(_edges(graph))
    n_edges = ed.agg(F.count("*").cast("long").alias("n_edges_directed"))
    n_ent = (
        ed.select(F.col("a").alias("e"))
        .union(ed.select(F.col("b").alias("e")))
        .distinct()
        .agg(F.count("*").cast("long").alias("n_entities"))
    )
    n_pred = graph.select("pred").distinct().agg(
        F.count("*").cast("long").alias("n_preds")
    )
    recip = (
        ed.join(
            ed.select(F.col("b").alias("a"), F.col("a").alias("b")),
            ["a", "b"],
        )
        .agg(F.count("*").cast("long").alias("n_reciprocal"))
    )
    return (
        n_ent.join(F.broadcast(n_edges))
        .join(F.broadcast(n_pred))
        .join(F.broadcast(recip))
        .select(
            "n_entities", "n_edges_directed", "n_preds", "n_reciprocal",
            # zero-guarded: on an empty / single-entity graph Spark's
            # DIV yields NULL while the DuckDB oracle's // raises —
            # both sides pin degenerate input to 0 (oracle mirrors
            # with CASE WHEN denom > 0)
            F.expr(
                "CASE WHEN n_edges_directed > 0"
                " THEN (n_reciprocal * 1000) DIV n_edges_directed"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("reciprocity_milli"),
            F.expr(
                "CASE WHEN n_entities > 1"
                " THEN (n_edges_directed * 1000000)"
                " DIV (n_entities * (n_entities - 1))"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("density_micro"),
        )
    )


def ktruss(
    graph: DataFrame, k: int = config.KTRUSS_K, max_iter: int = 10
) -> DataFrame:
    """K-truss decomposition (fixed k): iteratively peel edges whose
    triangle support (common-neighbor count) is < k-2 until stable;
    return the canonical surviving edges with their final support —
    the triangle-reinforced backbone, one notch stronger than k-core
    (every surviving relationship is corroborated by >= k-2 mutual
    neighbors; Cohen 2008). The KG-cleaning pass that keeps only
    edges embedded in community structure.

    Scale shape: each round's support count is the co-partitioned
    wedge join triangles/two_hop use, over a SHRINKING edge set; the
    peel is a semi-join on the edge key. The loop is
    fixpoint.until_stable over the edge set alone, which raises past
    max_iter (oracle unrolls the same bound, idempotent at fixpoint);
    the output's support is counted once more on the converged edges.
    Hub-pair wedge fanout is the known hot spot at scale — the
    degree-ordering orientation used for pure triangle counting can't
    be applied mid-peel, so production runs this after a hub cap
    (graph.py N_HUB_CAP discipline).
    """

    def support(edges: DataFrame) -> DataFrame:
        n1 = edges.select("a", F.col("b").alias("c"))
        n2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
        return (
            edges.join(n1, "a")
            .join(n2, ["b", "c"])
            .groupBy("a", "b")
            .agg(F.count("*").cast("long").alias("support"))
        )

    def peel(edges: DataFrame) -> DataFrame:
        return edges.join(
            support(edges).filter(F.col("support") >= k - 2), ["a", "b"], "left_semi"
        )

    edges = fixpoint.until_stable(
        _edges(graph, both_ways=True).distinct(), peel, max_iter, "ktruss"
    )
    return (
        edges.join(support(edges), ["a", "b"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "support")
    )
