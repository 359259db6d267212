"""The tensor-plane Spark boundary: one vectorized mapInPandas stage.

Design (SURVEY.md §4, north_star):
- UDF input is ONE ROW PER DOCUMENT (tokens + mention spans), not per
  pair — pairs must be scored with document context, so exploding
  before the UDF would duplicate the token sequence P times. The input
  is the ``fused.with_mentions`` shape (doc_id, tokens, _ments), read
  straight off the gazetteer pass; separately arriving mention tables
  are packed into it by ``pack_mentions``.
- the model is a process-level singleton (DeterministicGLiREL.get()):
  loaded once per executor python worker, never per batch. With real
  weights this is the `--archives`-shipped checkpoint + ONNX session.
- label reps are DOCUMENT-contextual (the prompt attends to the doc it
  scores, model.py:188-214), so they come out of the same per-doc
  transformer forward as the word reps — no cross-doc caching is
  possible, and none is attempted.
- the stage runs ONE task per core, and the corpus is spread round-robin
  ONCE: an input that already arrives spread through narrow operators
  (the documents scan's repartition, ``pipeline._interleaved_plan``)
  is scored where it lies; any other input gets one round-robin
  repartition in front of the scorer (``_spread``).
- output has one of two shapes:
  * ``neural_triples_from`` (every top_k) runs the threshold, the
    per-pair top-k and the P9 type constraint inside the UDF
    (``topk_decode``) and emits the formatted triples
    (``decode.TRIPLES_SCHEMA``) — no decode shuffle, no enrichment
    joins, ~|labels|/k x fewer rows out of Python;
  * ``score_pairs_neural`` emits the scored-pair relation (doc_id,
    positions, label, prob), the same shape the lexical scorer
    produces, for the relational calibration / reference-eval plans.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructType

from glirel_spark import config
from glirel_spark.functions.memo import once
from glirel_spark.model.scorer import DeterministicGLiREL
from glirel_spark.operators import decode as decode_ops
from glirel_spark.operators import scoring as scoring_ops

_SCORED_SCHEMA = (
    "doc_id string, h_start int, h_end int, t_start int, t_end int, "
    "label string, prob double"
)


def pack_mentions(docs_tokens: DataFrame, mentions: DataFrame) -> DataFrame:
    """A mention table that arrives separately (JSONL or DocRED external
    NER) -> the ``fused.with_mentions`` shape the scorer reads:
    docs_tokens' columns + ``_ments``, an array of
    struct(start, end[, type, text]) ordered by (start, end). Docs
    without mentions drop out (inner join)."""
    fields = [c for c in ("start", "end", "type", "text") if c in mentions.columns]
    packed = mentions.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct(*fields))).alias("_ments")
    )
    return docs_tokens.join(packed, "doc_id")


def topk_decode(
    probs: np.ndarray,
    threshold: float,
    k: int,
    h_types: np.ndarray,
    t_types: np.ndarray,
    constraints: list[tuple[list[str] | None, list[str] | None]],
) -> tuple[np.ndarray, np.ndarray]:
    """The top-k decode of one document's scores -> (pair index, label
    index) of every kept (pair, rank), pair-major then rank order.

    ``probs`` [P, C] is ``score_doc``'s output over ASCENDING labels;
    ``h_types``/``t_types`` are the pairs' head/tail mention types and
    ``constraints[c]`` the (allowed_head, allowed_tail) of label c
    (None = unconstrained, [] = nothing allowed). Row-identical to the
    relational threshold -> top_k_per_pair(k) -> constraint_filter chain:
    - a stable argsort of -probs ranks (prob desc, label asc); its first
      column is np.argmax's first maximum;
    - the labels above the threshold are a prefix of that ranking, so
      ranking-then-threshold == threshold-then-ranking;
    - the constraint applies to each kept label (decode applies P9
      after top-k), so a failing label is dropped, not replaced by the
      next one in rank.
    """
    order = np.argsort(-probs, axis=1, kind="stable")[:, :k]
    keep = np.take_along_axis(probs, order, axis=1) > threshold
    for c, (ah, at) in enumerate(constraints):
        if ah is None and at is None:
            continue
        ok = np.ones(len(order), dtype=bool)
        if ah is not None:
            ok &= _isin(h_types, ah)
        if at is not None:
            ok &= _isin(t_types, at)
        keep &= (order != c) | ok[:, None]
    pidx, rank = np.nonzero(keep)
    return pidx, order[pidx, rank]


def _isin(values: np.ndarray, allowed: list[str]) -> np.ndarray:
    """Elementwise membership over an object array (None matches
    nothing, like array_contains over a NULL type)."""
    out = np.zeros(len(values), dtype=bool)
    for a in allowed:
        out |= values == a
    return out


def score_pairs_neural(
    docs_tokens: DataFrame,
    mentions: DataFrame,
    labels: list[str] | None = None,
    max_distance: int | None = config.MAX_PAIR_DISTANCE,
    labels_col: str | None = None,
) -> DataFrame:
    """(doc_id, tokens) x (doc_id, mentions) -> scored pairs.

    Mentions are packed per doc (``pack_mentions``) so the UDF receives
    one Arrow row per document.

    ``labels_col`` names an ``array<string>`` column on ``docs_tokens``
    carrying PER-DOCUMENT label sets — the reference's
    ``fixed_relation_types: false`` mode (base.py:327-339), where each
    example brings its own relation vocabulary and the prompt differs
    per document. Since the encoder builds one prompt per document
    anyway (label reps are document-contextual), per-example labels
    cost nothing extra here — the survey flagged this as hard only for
    an encode-labels-once design.
    """
    if labels is None:
        labels = sorted(config.RELATION_LABELS.keys())
    cols = ["doc_id", "tokens"] + ([labels_col] if labels_col else [])
    packed = pack_mentions(
        docs_tokens.select(*cols), mentions.select("doc_id", "start", "end")
    )
    return _scorer_stage(packed, tuple(labels), max_distance, labels_col=labels_col)


def neural_triples_from(
    docs_ments: DataFrame,
    threshold: float = config.THRESHOLD,
    top_k: int = 1,
    labels: dict[str, dict[str, list[str]]] | None = None,
) -> DataFrame:
    """(doc_id, tokens, _ments) -> formatted triples, one plan for
    every ``top_k``: one round-robin spread (the input's own, or one
    repartition, ``_spread``), one mapInPandas that scores AND decodes
    (``topk_decode``), then nothing — mention text and type ride through
    the packed input, so there is no decode shuffle and no enrichment
    join.
    """
    label_dict = config.RELATION_LABELS if labels is None else labels
    table = scoring_ops.label_constraints(label_dict)
    decode = (threshold, top_k, [(ah, at) for _, ah, at in table])
    return _scorer_stage(
        docs_ments, tuple(lab for lab, _, _ in table),
        config.MAX_PAIR_DISTANCE, decode=decode,
    )


def neural_triples(
    docs_tokens: DataFrame,
    mentions: DataFrame,
    threshold: float = config.THRESHOLD,
    top_k: int = 1,
    labels: dict[str, dict[str, list[str]]] | None = None,
) -> DataFrame:
    """``neural_triples_from`` for a mention table (doc_id, start, end,
    type, text) that arrives separately from the tokens."""
    return neural_triples_from(
        pack_mentions(docs_tokens.select("doc_id", "tokens"), mentions),
        threshold, top_k, labels,
    )


def _scorer_stage(
    docs_ments: DataFrame,
    label_tuple: tuple[str, ...],
    max_distance: int | None,
    labels_col: str | None = None,
    decode: tuple[float, int, list] | None = None,
) -> DataFrame:
    """docs with >= 2 mentions -> the scorer mapInPandas, spread over
    ``defaultParallelism`` tasks (``_spread``).

    ``decode`` = (threshold, top_k, per-label constraints) decodes in
    the UDF and emits decode.TRIPLES_SCHEMA; None emits the scored
    relation. The input columns and the output schema are built once
    per JVM (functions/memo.py).
    """

    def build() -> tuple[Column, ...]:
        cols = [
            F.size("_ments") >= 2, F.col("doc_id"), F.col("tokens"),
            F.col("_ments.start").alias("_ms"), F.col("_ments.end").alias("_me"),
        ]
        if decode is not None:
            cols += [F.col("_ments.type").alias("_mt"), F.col("_ments.text").alias("_mx")]
        if labels_col:
            cols.append(F.col(labels_col).alias("_labels"))
        return tuple(cols)

    multi, *cols = once(("udf.scorer_input", decode is not None, labels_col), build)
    packed = _spread(docs_ments.filter(multi).select(*cols))
    ddl = _SCORED_SCHEMA if decode is None else decode_ops.TRIPLES_SCHEMA
    return packed.mapInPandas(
        _scorer(label_tuple, max_distance, decode),
        once(("udf.schema", ddl), lambda: StructType.fromDDL(ddl)),
    )


def _spread(df: DataFrame) -> DataFrame:
    """``df`` spread round-robin over ``defaultParallelism`` partitions:
    as it arrives, when it already is, else through one repartition.

    The scorer stage is PYTHON-CPU-bound (milliseconds per doc through
    the transformer and BiLSTM) while its input is tiny in BYTES
    (tokens + span offsets), so AQE's byte-based partition coalescing
    collapses it to ONE task (measured: 10k docs = 126s single-task vs
    ~30s on 4 cores) — the advisory-size heuristic is simply the wrong
    metric for compute-heavy UDF stages. Pin the partition count to the
    cluster's core count with an explicit ROUND-ROBIN repartition:
    repartition(N) is REPARTITION_BY_NUM, which AQE never coalesces,
    whereas repartition(N, doc_id) collapses into an upstream doc_id
    exchange (redundant-exchange elimination) and gets coalesced with it
    (measured: stage back to 1 task). ONE task per core, not more:
    round-robin already balances the per-doc work, and every task pays a
    python-worker start. On CPython < 3.13 that start is the per-task
    importlib.invalidate_caches() re-parsing the zips and the jar on the
    worker's path (0.14-0.38 s a task on 4 cores); glirel_spark/__init__.py
    skips unchanged archives, so a reused worker's task setup takes < 1 ms.

    One spread is enough: when the analyzed plan is Project/Filter nodes
    down to a round-robin Repartition to >= N partitions (the one
    ``pipeline._interleaved_plan`` puts over a single-file corpus), the
    rows reach the scorer through narrow operators on those partitions,
    and a cache of any subtree keeps them. Every other input (a
    ``pack_mentions`` join, a bucket's narrow read, a many-file scan)
    is repartitioned here.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() in ("Project", "Filter"):
        node = node.child()
    if node.nodeName() == "Repartition" and node.shuffle() and node.numPartitions() >= n:
        return df
    return df.repartition(n)


def _scorer(
    label_tuple: tuple[str, ...],
    max_distance: int | None,
    decode: tuple[float, int, list] | None,
):
    """The mapInPandas function: per Arrow batch, encode every document,
    score its pairs, and emit the scored relation or, with ``decode``,
    the decoded triples — one pandas frame per batch."""
    labels_arr = np.asarray(label_tuple, dtype=object)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = DeterministicGLiREL.get()
        for pdf in batches:
            # T2-T6 transformer encode per document (the prompt and the
            # document attend JOINTLY, so token reps are contextual and
            # cannot be factorized across docs), then the T8 BiLSTM runs
            # batched over the WHOLE Arrow batch at once — its python
            # recurrence loop is O(max_len), not O(docs).
            tok_lists = [list(t) for t in pdf["tokens"]]
            if "_labels" in pdf.columns:  # per-example label sets
                lab_tuples = [tuple(ls) for ls in pdf["_labels"]]
            else:
                lab_tuples = [label_tuple] * len(tok_lists)
            enc = [
                model.encode_doc(toks, labs)
                for toks, labs in zip(tok_lists, lab_tuples)
            ]
            reps_list = model.encode_batch([word for word, _ in enc])
            lab_list = [model.label_ffn(rel) for _, rel in enc]
            parts: dict[str, list[np.ndarray]] = {}
            for i, tokens in enumerate(tok_lists):
                starts = np.asarray(pdf["_ms"].iat[i], dtype=np.int64)
                # P4: filter HERE, carrying each span's row in the
                # packed arrays, so the pair indices score_doc returns
                # refer to the same span array we gather positions,
                # texts and types from.
                v = model.valid_spans(np.stack(
                    [starts, np.asarray(pdf["_me"].iat[i], dtype=np.int64),
                     np.arange(len(starts))], axis=1,
                ), len(tokens))
                sp, src = v[:, :2], v[:, 2]
                row_labels = lab_tuples[i]
                pidx, probs = model.score_doc(
                    tokens, sp, row_labels, max_distance,
                    tok_reps=reps_list[i], lab_reps=lab_list[i]
                )
                if len(pidx) == 0:
                    continue
                if decode is None:
                    n_lab = len(row_labels)
                    lab = (labels_arr if row_labels is label_tuple
                           else np.asarray(row_labels, dtype=object))
                    pairs = np.repeat(pidx, n_lab, axis=0)
                    cols = {"label": np.tile(lab, len(pidx)),
                            "prob": probs.reshape(-1)}
                else:
                    types = np.asarray(pdf["_mt"].iat[i], dtype=object)[src]
                    keep, best = topk_decode(
                        probs, decode[0], decode[1], types[pidx[:, 0]],
                        types[pidx[:, 1]], decode[2],
                    )
                    if len(keep) == 0:
                        continue
                    pairs = pidx[keep]
                    texts = np.asarray(pdf["_mx"].iat[i], dtype=object)[src]
                    cols = {"head_text": texts[pairs[:, 0]],
                            "tail_text": texts[pairs[:, 1]],
                            "label": labels_arr[best],
                            "prob": probs[keep, best]}
                h, t = sp[pairs[:, 0]], sp[pairs[:, 1]]
                cols.update(_row=np.full(len(pairs), i), hs=h[:, 0],
                            he=h[:, 1], ts=t[:, 0], te=t[:, 1])
                for k, a in cols.items():
                    parts.setdefault(k, []).append(a)
            if parts:
                yield _frame(pdf["doc_id"], parts, decode is not None)

    return run


def _frame(
    doc_ids: pd.Series, parts: dict[str, list[np.ndarray]], formatted: bool
) -> pd.DataFrame:
    """One output frame per Arrow batch from the per-doc column chunks."""
    col = {k: np.concatenate(v) for k, v in parts.items()}
    out = {"doc_id": doc_ids.to_numpy()[col["_row"]]}
    if formatted:  # decode.format_output: exclusive ends, NULL raw
        n = len(col["_row"])
        out.update(
            head_start=col["hs"].astype(np.int32),
            head_end=(col["he"] + 1).astype(np.int32),
            tail_start=col["ts"].astype(np.int32),
            tail_end=(col["te"] + 1).astype(np.int32),
            head_text=col["head_text"], tail_text=col["tail_text"],
            label=col["label"],
            raw=pd.arrays.IntegerArray(np.zeros(n, np.int32), np.ones(n, bool)),
            prob=col["prob"].astype(np.float64),
        )
    else:
        out.update(
            h_start=col["hs"].astype(np.int32), h_end=col["he"].astype(np.int32),
            t_start=col["ts"].astype(np.int32), t_end=col["te"].astype(np.int32),
            label=col["label"], prob=col["prob"].astype(np.float64),
        )
    return pd.DataFrame(out)
