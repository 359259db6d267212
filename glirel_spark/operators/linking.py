"""Entity linking + canonicalization (reference J7/J8 seeds).

- J7: alias-dictionary canonicalization — the reference's PID->name /
  alias remap broadcast lookup (data/process_wiki_zsl.py:19-33,
  data/re-docred/run_evaluation.py:28-43) generalized to a
  (alias -> canonical_id) map, looked up as a literal map expression.
- J8: mention-text alias matching (data_proc.py:43-52 sliding-window
  lowercase match) — at scale, candidate generation is a blocked
  MinHash-LSH join (see operators/minhash.py); here the dictionary is
  exact-match after lowercase normalization, with the LSH join as the
  fuzzy path.

Unmatched mentions get a deterministic surface-form id ("Q:surface:<text>")
so the graph is total; production would route these to a discovery queue.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from glirel_spark import config
from glirel_spark.functions.memo import once
from glirel_spark.operators import fixpoint


def alias_df(spark: SparkSession) -> DataFrame:
    rows = sorted(config.ALIAS_DICT.items())
    return spark.createDataFrame(rows, "alias string, canonical_id string")


def canonicalize(df: DataFrame, aliases: dict[str, str], text_col: str,
                 out_col: str) -> DataFrame:
    """``df`` + ``out_col``, the ``canonical_id`` of ``text_col``."""
    return df.withColumn(out_col, canonical_id(aliases, text_col))


def canonical_id(aliases: dict[str, str], text_col: str) -> Column:
    """Alias lookup; fallback id for unmatched surface forms.

    ``aliases`` (alias -> canonical_id) compiles to a LITERAL map
    expression inside the row projection: no join, no broadcast build,
    zero plan nodes added (round-6; guide §2.4 — the config gazetteer is
    a compile-time constant exactly like the mention gazetteer in
    operators/fused.py). Row semantics: lowercase match, miss ->
    "Q:surface:<lower(text)>". Aliases that collide once lowercased keep
    ONE entry: the first alias in sorted (case-sensitive) order wins, so
    {"Spark": "Q:a", "spark": "Q:b"} links "spark" to "Q:a". The
    expression is built once per alias contents and ``text_col``
    (functions/memo.py).
    """
    pairs = _lookup_pairs(aliases)

    def build() -> Column:
        alias_map = F.create_map(*[F.lit(x) for kv in pairs for x in kv])
        text = F.lower(F.col(text_col))
        return F.coalesce(alias_map[text], F.concat(F.lit("Q:surface:"), text))

    return once(("linking.canonicalize", pairs, text_col), build)


def _lookup_pairs(aliases: dict[str, str]) -> tuple[tuple[str, str], ...]:
    """(lowercased alias, canonical id) pairs, first sorted alias wins."""
    lookup: dict[str, str] = {}
    for a, cid in sorted(aliases.items()):
        lookup.setdefault(a.lower(), cid)
    return tuple(lookup.items())


def link_triples(triples: DataFrame, aliases: dict[str, str]) -> DataFrame:
    """Triples -> (subj, pred, obj) with canonical entity ids."""
    return triples.select(*once(("linking.link_triples", _lookup_pairs(aliases)), lambda: (
        F.col("doc_id"), canonical_id(aliases, "head_text").alias("subj"),
        F.col("label").alias("pred"), canonical_id(aliases, "tail_text").alias("obj"),
        F.col("prob"), F.col("head_start"), F.col("head_end"),
        F.col("tail_start"), F.col("tail_end"),
    )))


# --- fuzzy candidate generation (north_star: blocked MinHash-LSH) -----------

def _as_char_docs(strings: DataFrame, col: str) -> DataFrame:
    """(doc_id=string, tokens=characters): a string relation in the shape
    the dedup LSH machinery consumes. With single-character tokens the
    per-token polynomial hash reduces to ascii(c), so the char-3-gram
    shingles/signatures reuse corpus_dedup's arithmetic verbatim —
    one implementation, one oracle family."""
    return strings.select(
        F.col(col).alias("doc_id"), F.split(F.col(col), "").alias("tokens")
    )


def fuzzy_alias_candidates(
    mentions: DataFrame,
    aliases: DataFrame,
    threshold: float = 0.3,
) -> DataFrame:
    """Blocked MinHash-LSH candidate generation for entity linking
    (north_star; reference seed: data_proc.py:43-52 sliding-window
    alias match, which is exact — this is its at-scale fuzzy form).

    Output: (surface, alias, canonical_id, inter, un, jaccard) for
    surface/alias pairs whose char-3-gram Jaccard >= threshold (default
    0.3 — the closed sandbox vocabulary's only fuzzy family, token-
    prefix containment like 'table'/'table scan', sits at 0.375),
    surface != alias (exact matches are the literal-map path in
    `canonicalize`; this op exists for typos/inflections).

    Scale shape — the part that matters at a 10^8-alias dictionary:
    - LSH runs over DISTINCT lowered surfaces (Heaps-bounded, tiny vs
      the mention table); mentions re-join by surface afterwards.
    - both sides get band keys from their own signature arrays (pure
      map work); candidates come from a band-key EQUI-join — never a
      cartesian product, never a broadcast of the dictionary.
    - exact Jaccard verifies candidates only (shingle equi-join).
    Surfaces shorter than SHINGLE_K chars produce no shingles and fall
    through to the exact-match path only (documented contract).
    """
    from glirel_spark.operators import corpus_dedup as cd

    surf = mentions.select(F.lower(F.col("text")).alias("s")).distinct()
    alias_norm = aliases.select(
        F.lower(F.col("alias")).alias("s"),
        F.col("canonical_id"),
    ).distinct()

    # round-6: each shingled side feeds its band subtree AND the verify
    # explodes/counts below — cut the lineage once per side so the
    # distinct + char-shingle pass is not re-executed per reference
    # (at scale: materialize the per-surface shingle table once).
    s_docs = fixpoint.materialize(cd.with_shingle_array(_as_char_docs(surf, "s")))
    a_docs = fixpoint.materialize(
        cd.with_shingle_array(_as_char_docs(alias_norm.select("s"), "s"))
    )

    s_bands = cd.lsh_bands(cd.minhash_signature_arr(None, shingled=s_docs))
    a_bands = cd.lsh_bands(cd.minhash_signature_arr(None, shingled=a_docs))
    cands = (
        s_bands.toDF("surface", "band", "band_key")
        .join(a_bands.toDF("alias", "band", "band_key"), ["band", "band_key"])
        .filter(F.col("surface") != F.col("alias"))
        .select("surface", "alias")
        .distinct()
    )

    # exact char-shingle Jaccard on candidates only (bipartite verify)
    s_sh = s_docs.select(F.col("doc_id").alias("surface"), F.explode("_sh").alias("sh"))
    a_sh = a_docs.select(F.col("doc_id").alias("alias"), F.explode("_sh").alias("sh"))
    s_n = s_sh.groupBy("surface").agg(F.count("*").alias("n1"))
    a_n = a_sh.groupBy("alias").agg(F.count("*").alias("n2"))
    inter = (
        cands.join(s_sh, "surface")
        .join(a_sh, ["alias", "sh"])
        .groupBy("surface", "alias")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        cands.join(inter, ["surface", "alias"], "left")
        .join(s_n, "surface")
        .join(a_n, "alias")
        .select(
            "surface", "alias",
            F.coalesce("inter", F.lit(0)).cast("long").alias("inter"),
            (F.col("n1") + F.col("n2") - F.coalesce("inter", F.lit(0)))
            .cast("long").alias("un"),
        )
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("un"))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.join(
        alias_norm.withColumnRenamed("s", "alias"), "alias"
    ).select("surface", "alias", "canonical_id", "inter", "un", "jaccard")


def best_fuzzy_alias(cands: DataFrame) -> DataFrame:
    """Resolve the LSH candidate set to ONE canonical id per surface:
    highest Jaccard wins, ties break on (alias asc, canonical_id asc) —
    a deterministic total order shared with the DuckDB twin. The
    relation is distinct-surface-sized (Heaps-bounded), so downstream
    joins broadcast it."""
    from pyspark.sql import Window as W

    w = W.partitionBy("surface").orderBy(
        F.desc("jaccard"), F.asc("alias"), F.asc("canonical_id")
    )
    return (
        cands.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("surface", F.col("canonical_id").alias("fuzzy_id"))
    )


def apply_fuzzy(linked: DataFrame, best: DataFrame) -> DataFrame:
    """Second-chance canonicalization: rows whose endpoint fell through
    exact alias matching (the ``Q:surface:<text>`` fallback ids) pick
    up their best fuzzy candidate; everything else passes unchanged.
    Two broadcast left joins on the fallback-id key — the triple
    relation is never shuffled."""
    pre = "Q:surface:"
    b_s = best.select(
        F.concat(F.lit(pre), F.col("surface")).alias("subj"),
        F.col("fuzzy_id").alias("_fs"),
    )
    b_o = best.select(
        F.concat(F.lit(pre), F.col("surface")).alias("obj"),
        F.col("fuzzy_id").alias("_fo"),
    )
    return (
        linked.join(F.broadcast(b_s), "subj", "left")
        .join(F.broadcast(b_o), "obj", "left")
        .select(
            "doc_id",
            F.coalesce("_fs", "subj").alias("subj"),
            "pred",
            F.coalesce("_fo", "obj").alias("obj"),
            "prob",
        )
    )


def er_edit_pairs(mentions: DataFrame, max_dist: int = 2) -> DataFrame:
    """Entity-resolution candidate pairs by blocked edit distance: all
    distinct lowercased mention surface forms within Levenshtein
    distance <= max_dist of each other — the classic string-similarity
    ER match step (Fellegi-Sunter blocking + comparison), complementing
    the MinHash-LSH fuzzy alias path with a typo-tolerant exact metric.

    Blocking: equal first character + length band |len1-len2| <=
    max_dist (an edit can change length by at most 1 per operation, so
    the band is lossless for same-first-char pairs). The quadratic
    comparison runs only WITHIN blocks — the whole point of blocking at
    web scale; production adds a second blocking pass keyed on the last
    character to also catch first-char typos (documented trade-off:
    this pass, like most deployed blockers, misses edits at the
    blocking key itself).

    Levenshtein evaluates JVM-side (built-in expression, codegen) and
    identically in the DuckDB oracle.
    """
    names = mentions.select(F.lower("text").alias("name")).distinct()
    l = names.select(
        F.col("name").alias("e1"),
        F.substring("name", 1, 1).alias("_b"),
        F.length("name").alias("_l1"),
    )
    r = names.select(
        F.col("name").alias("e2"),
        F.substring("name", 1, 1).alias("_b"),
        F.length("name").alias("_l2"),
    )
    return (
        l.join(r, "_b")
        .filter(
            (F.col("e1") < F.col("e2"))
            & (F.abs(F.col("_l1") - F.col("_l2")) <= max_dist)
        )
        .withColumn("dist", F.levenshtein("e1", "e2").cast("long"))
        .filter(F.col("dist") <= max_dist)
        .select("e1", "e2", "dist")
    )


def entity_types(mentions: DataFrame, aliases: dict[str, str]) -> DataFrame:
    """Per-entity NER-type profile: for each canonical entity, the
    distribution of entity types its mentions carry — (entity, type, n,
    n_entity, share) with share = n / n_entity (ONE exactly-rounded
    division). The type-vote table a KG schema layer uses to assign
    "Q42 is-a PER (0.98)" and to flag alias collisions (one canonical
    id drawing from two types = a linking bug surfacing as data).

    Scale shape: canonicalization is the same literal alias map the
    linking path uses; the profile is a map-side-combinable groupBy on
    (entity, type) whose result is bounded by |V| x |types|, and the
    per-entity totals re-aggregate from the profile relation itself
    (no second mention scan).
    """
    m = canonicalize(mentions, aliases, "text", "entity")
    per = m.groupBy("entity", "type").agg(F.count("*").cast("long").alias("n"))
    tot = per.groupBy("entity").agg(F.sum("n").cast("long").alias("n_entity"))
    return per.join(tot, "entity").select(
        "entity",
        "type",
        "n",
        "n_entity",
        (F.col("n").cast("double") / F.col("n_entity").cast("double")).alias(
            "share"
        ),
    )


def er_clusters(
    mentions: DataFrame, max_dist: int = 2, max_iter: int = 20
) -> DataFrame:
    """Surface-form entity-resolution clusters: connected components
    over the blocked-Levenshtein candidate pairs (``er_edit_pairs``),
    canonical form = lexicographically-min member — the CESI-style
    "cluster the noun phrases, then canonicalize the KG over cluster
    representatives" step (Vashishth et al., WWW'18; reference analog:
    the alias remap in data/process_wiki_zsl.py:19-33 is the
    dictionary path, this is the dictionary-free unsupervised path).

    Output: (name, canonical, cluster_size) for EVERY distinct
    lowercased mention surface form; singletons map to themselves.

    Scale shape: as corpus_dedup.neardup_clusters, the loop is
    fixpoint.min_label_components, iterating ONLY over surface forms
    that appear in at least one edit pair (a small fraction of the
    vocabulary) and running the blocked-Levenshtein subtree once; it
    RAISES (not a silent partial merge) if a >max_iter-diameter chain
    appears. The full vocabulary joins in exactly once at the end for
    the singleton default. Cluster sizes re-aggregate from the mapping
    relation itself, not from a second mention scan.
    """
    names = mentions.select(F.lower("text").alias("name")).distinct()
    e = er_edit_pairs(mentions, max_dist).select(
        F.col("e1").alias("a"), F.col("e2").alias("b")
    )
    labels = fixpoint.min_label_components(
        e, max_iter, "er_clusters"
    ).withColumnRenamed("node", "name")
    mapping = names.join(labels, "name", "left").select(
        "name", F.coalesce(F.col("root"), F.col("name")).alias("canonical")
    )
    sizes = mapping.groupBy("canonical").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return mapping.join(sizes, "canonical").select(
        "name", "canonical", "cluster_size"
    )


def canonicalized_graph(triples: DataFrame, er_map: DataFrame) -> DataFrame:
    """KG canonicalization over ER clusters: rewrite each triple's head
    and tail surface form to its cluster representative, then
    re-aggregate the graph — the step that merges "acme corp" /
    "acme corpx" rows a raw surface-form graph keeps apart (CESI's
    output side; completes the north-rule canonicalization clause with
    a dictionary-free path beside the alias-broadcast one).

    Output per canonical (subj, pred, obj): ``n_mentions`` supporting
    triple rows, ``n_docs`` distinct documents, and
    ``n_subj_surfaces`` / ``n_obj_surfaces`` — how many distinct raw
    surface forms were merged into each endpoint (the canonicalization
    audit a KG curator reads).

    Scale shape: ``er_map`` is (vocabulary-sized, bounded by distinct
    mention strings) -> broadcast into two map-side joins, so the only
    shuffle is the final (subj, pred, obj) aggregation, which is
    map-side combinable. On a 10^12-doc corpus the mapping outgrows a
    broadcast -> the joins become shuffle hash joins on `name`
    (uniformly distributed — surface strings, not hub entities).
    """
    m = er_map.select("name", "canonical")
    t = triples.select(
        F.lower("head_text").alias("h_name"),
        F.lower("tail_text").alias("t_name"),
        F.col("label").alias("pred"),
        "doc_id",
    )
    t = (
        t.join(
            F.broadcast(m.withColumnRenamed("name", "h_name")
                         .withColumnRenamed("canonical", "subj")),
            "h_name",
        )
        .join(
            F.broadcast(m.withColumnRenamed("name", "t_name")
                         .withColumnRenamed("canonical", "obj")),
            "t_name",
        )
    )
    return t.groupBy("subj", "pred", "obj").agg(
        F.count("*").cast("long").alias("n_mentions"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.countDistinct("h_name").cast("long").alias("n_subj_surfaces"),
        F.countDistinct("t_name").cast("long").alias("n_obj_surfaces"),
    )


def entity_salience(
    mentions: DataFrame, docs_tokens: DataFrame, aliases: dict[str, str]
) -> DataFrame:
    """Per-document entity salience features: for each (doc, canonical
    entity), mention frequency, first/last token position, and the
    integer lead score ``lead_milli = ((n_tokens - first_pos) * 1000)
    DIV n_tokens`` — the position-decay signal (earlier first mention =
    more salient) salience models combine with frequency (Dunietz &
    Gillick 2014 use exactly these feature families). The combiner is a
    modeling choice; the features are the pipeline's job.

    Scale shape: literal-map alias canonicalization (the linking
    path's lookup), one map-side-combinable groupBy on (doc_id, entity)
    — key bounded by entities-per-doc, skew-free — and one join to the
    per-doc token count on doc_id. Everything integer; one plan, no
    windows.
    """
    m = canonicalize(mentions, aliases, "text", "entity")
    per = m.groupBy("doc_id", "entity").agg(
        F.count("*").cast("long").alias("n_mentions"),
        F.min("start").cast("long").alias("first_pos"),
        F.max("start").cast("long").alias("last_pos"),
    )
    n = docs_tokens.select(
        "doc_id", F.size("tokens").cast("long").alias("n_tokens")
    )
    return per.join(n, "doc_id").select(
        "doc_id", "entity", "n_mentions", "first_pos", "last_pos", "n_tokens",
        F.expr("((n_tokens - first_pos) * 1000) DIV n_tokens").alias("lead_milli"),
    )


def er_sorted_neighborhood(
    mentions: DataFrame, window: int = config.SN_WINDOW
) -> DataFrame:
    """Sorted-neighborhood ER blocking (Hernandez & Stolfo 1995): sort
    the distinct lowercased surface forms by one global key (the name
    itself) and compare each to its next ``window`` neighbors in sort
    order — the third classic blocking family alongside first-char
    blocks (er_edit_pairs) and MinHash-LSH (fuzzy_alias_candidates).
    Output: every candidate pair with its rank gap and Levenshtein
    distance (the comparison census; thresholding is the caller's
    match rule).

    Scale shape: the naive form needs a GLOBAL sort + sliding window —
    the single-task trap. Here the global rank comes from the same
    distributed two-phase prefix sum as sequence packing
    (packing._with_global_offset: range-partition, per-partition
    cumsum, tiny totals frame broadcast back), and the neighbor pairing
    is the band-join trick from the event range join: rank DIV window
    buckets, each left row exploded to 2 bucket keys, equi-join, exact
    gap filter — candidates cross partition boundaries without any
    boundary-row replication logic. No global window anywhere.
    """
    from glirel_spark.operators.packing import _with_global_offset

    names = mentions.select(F.lower("text").alias("name")).distinct()
    # consumed by BOTH sides of the neighbor join: materialize the
    # rank relation once instead of running the prefix sum twice
    ranked = fixpoint.materialize(
        _with_global_offset(
            names.withColumn("_one", F.lit(1).cast("long")), "name", "_one"
        ).select("name", F.col("s").alias("rank"))
    )
    l = ranked.select(
        F.col("name").alias("e1"),
        F.col("rank").alias("r1"),
        F.explode(
            F.array(
                F.expr(f"rank DIV {window}"), F.expr(f"rank DIV {window} + 1")
            )
        ).alias("_b"),
    )
    r = ranked.select(
        F.col("name").alias("e2"),
        F.col("rank").alias("r2"),
        F.expr(f"rank DIV {window}").alias("_b"),
    )
    return (
        l.join(r, "_b")
        .filter(
            (F.col("r2") > F.col("r1")) & (F.col("r2") - F.col("r1") <= window)
        )
        .select(
            "e1", "e2",
            (F.col("r2") - F.col("r1")).cast("long").alias("gap"),
            F.levenshtein("e1", "e2").cast("long").alias("dist"),
        )
    )
