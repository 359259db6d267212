"""Generate the expected-output golden table for ``triples_neural``.

The tensor-plane scorer is a fully deterministic test double (seeded
blake2b -> RNG weights, glirel_spark/model/scorer.py), so its expected
output is computable OUTSIDE Spark: this script replays the neural
pipeline with pandas + numpy + DuckDB only —

  mentions   <- the DuckDB mentions oracle (oracle.q_mentions — itself
                value-verified against the Spark mentions operator)
  tokens     <- text.split(' ') (== docs_tokens, tests/test_tokenize.py)
  scoring    <- the SAME DeterministicGLiREL numpy kernel the executors
                run (identical code + identical inputs + one OpenBLAS
                thread on the declared kernel scorer.BLAS_CORE, which
                the model pins -> identical bits; the goldens are that
                kernel's bits)
  threshold / top-k / constraints / format
             <- independent pandas re-implementation of the decode path

so the Spark-side plumbing (mapInPandas batching, span packing, the
in-UDF threshold / top-k / constraint decode, output format) is
value-checked end-to-end; only the numeric kernel is shared,
which is exactly what "deterministic test double" means. With real
GLiREL weights this same script would run the reference PyTorch model
(reference decode semantics: glirel/model.py:363-490).

Usage: python tools/gen_golden.py  (writes goldens/<sf>/triples_neural.parquet)
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from glirel_spark import config, oracle  # noqa: E402
from glirel_spark.model.scorer import DeterministicGLiREL  # noqa: E402

SF_DIRS = {
    "sf0.001": "/root/testdata/sf0.001",
    "sf0.01": "/root/testdata/sf0.01",
    "sf0.1": "/root/testdata/sf0.1",
}

OUT_COLS = [
    "doc_id", "head_start", "head_end", "tail_start", "tail_end",
    "head_text", "tail_text", "label", "raw", "prob",
]


def expected_triples_neural(
    sf_dir: str, doc_ids: set[str] | None = None
) -> pd.DataFrame:
    """``doc_ids`` restricts the replay to a document subset (used by
    tools/run_unigram_e2e.py to cross-check a small e2e run)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    mentions = con.execute(oracle.q_mentions()).fetchdf()
    docs = con.execute(
        "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents"
    ).fetchdf()
    dup = mentions.groupby(["doc_id", "start", "end"]).size().max()
    assert dup == 1, "mentions must be unique per (doc, start, end)"

    model = DeterministicGLiREL.get()
    labels = tuple(sorted(config.RELATION_LABELS.keys()))
    allowed = {
        lab: (c.get("allowed_head"), c.get("allowed_tail"))
        for lab, c in config.RELATION_LABELS.items()
    }
    tokens_by_doc = dict(zip(docs["doc_id"], docs["text"].str.split(" ")))
    meta = {
        (r.doc_id, r.start, r.end): (r.type, r.text)
        for r in mentions.itertuples(index=False)
    }

    rows: list[tuple] = []
    for doc_id, g in mentions.groupby("doc_id", sort=False):
        if doc_ids is not None and doc_id not in doc_ids:
            continue
        toks = tokens_by_doc[doc_id]
        sp = np.asarray(
            sorted(zip(g["start"].astype(np.int64), g["end"].astype(np.int64))),
            dtype=np.int64,
        ).reshape(-1, 2)
        sp = model.valid_spans(sp, len(toks))
        pidx, probs = model.score_doc(
            toks, sp, labels, config.MAX_PAIR_DISTANCE
        )
        if len(pidx) == 0:
            continue
        # threshold (strict >), then argmax per pair with the decode
        # tie-break: prob desc, label asc.
        for pi in range(len(pidx)):
            hs, he = sp[pidx[pi, 0]]
            ts, te = sp[pidx[pi, 1]]
            best = None
            for ci, lab in enumerate(labels):
                p = probs[pi, ci]
                if p > config.THRESHOLD and (
                    best is None or (-p, lab) < (-best[1], best[0])
                ):
                    best = (lab, p)
            if best is None:
                continue
            lab, p = best
            ah, at = allowed[lab]
            h_type, h_text = meta[(doc_id, hs, he)]
            t_type, t_text = meta[(doc_id, ts, te)]
            if ah is not None and h_type not in ah:
                continue
            if at is not None and t_type not in at:
                continue
            rows.append(
                (doc_id, int(hs), int(he) + 1, int(ts), int(te) + 1,
                 h_text, t_text, lab, None, float(p))
            )

    out = pd.DataFrame(rows, columns=OUT_COLS)
    out["raw"] = pd.array([None] * len(out), dtype="Int32")
    for c in ("head_start", "head_end", "tail_start", "tail_end"):
        out[c] = out[c].astype("int32")
    return out


def expected_refeval_counts() -> pd.DataFrame:
    """Outside-Spark replay of the reference evaluation protocol on the
    committed WikiZSL-shaped fixture (glirel_spark/plans/refeval.py):
    zero-shot labels from the file itself -> score -> threshold + top-1
    -> J5 annotated-pairs filter -> per-label tp/pred_n/true_n.

    Pure json + hashlib + numpy — independently re-implements the
    JSONL ingestion contract (content-addressed sha1 doc ids, duplicate
    line collapse, deterministic duplicate-span resolution) so the
    Spark side's source semantics are value-checked too."""
    import hashlib
    import json

    path = Path(__file__).resolve().parent.parent / "fixtures/wikizsl_dev.jsonl"
    docs: dict[str, dict] = {}
    for line in path.read_text().splitlines():
        if not line.strip():
            continue
        doc_id = hashlib.sha1(line.encode()).hexdigest()
        docs.setdefault(doc_id, json.loads(line))  # duplicate lines collapse

    model = DeterministicGLiREL.get()
    gold: set[tuple] = set()
    mentions: dict[str, dict[tuple[int, int], tuple[str, str]]] = {}
    for doc_id, j in docs.items():
        m: dict[tuple[int, int], tuple[str, str]] = {}
        for n in j["ner"]:
            key = (int(n[0]), int(n[1]))
            tt = (str(n[2]), str(n[3]))
            if key not in m or tt < m[key]:
                m[key] = tt  # min(struct(type, text)) — jsonl.py dedup
        mentions[doc_id] = m
        for r in j["relations"]:
            gold.add((
                doc_id, r["head"]["position"][0], r["head"]["position"][1],
                r["tail"]["position"][0], r["tail"]["position"][1],
                r["relation_text"],
            ))
    labels = tuple(sorted({g[5] for g in gold}))
    gold_pos = {g[:5] for g in gold}

    preds: set[tuple] = set()
    for doc_id, j in docs.items():
        toks = list(j["tokenized_text"])
        sp = np.asarray(sorted(mentions[doc_id]), dtype=np.int64).reshape(-1, 2)
        sp = model.valid_spans(sp, len(toks))
        pidx, probs = model.score_doc(toks, sp, labels, config.MAX_PAIR_DISTANCE)
        for pi in range(len(pidx)):
            best = None
            for ci, lab in enumerate(labels):
                p = probs[pi, ci]
                if p > config.THRESHOLD and (
                    best is None or (-p, lab) < (-best[1], best[0])
                ):
                    best = (lab, p)
            if best is None:
                continue
            hs, he = sp[pidx[pi, 0]]
            ts, te = sp[pidx[pi, 1]]
            key = (doc_id, int(hs), int(he), int(ts), int(te))
            if key in gold_pos:  # J5 annotated-pairs-only
                preds.add(key + (best[0],))

    vocab = sorted({p[5] for p in preds} | {g[5] for g in gold})
    rows = []
    for lab in vocab:
        tp = sum(1 for p in preds if p[5] == lab and p in gold)
        pred_n = sum(1 for p in preds if p[5] == lab)
        true_n = sum(1 for g in gold if g[5] == lab)
        rows.append((lab, tp, pred_n, true_n))
    out = pd.DataFrame(rows, columns=["label", "tp", "pred_n", "true_n"])
    for c in ("tp", "pred_n", "true_n"):
        out[c] = out[c].astype("int64")
    return out


def expected_docred_neural_counts() -> pd.DataFrame:
    """Outside-Spark replay of the neural double under the Re-DocRED
    protocol (glirel_spark/sources/docred.py docred_neural_counts):
    pure json + numpy — independently re-derives the global
    first-mention spans, the gold span-keyed relation, the per-pair
    argmax decode (prob desc / pid asc tie-break), the J5
    annotated-pairs filter and the A3 per-label counts, sharing only
    the deterministic numeric kernel with the executors (the same
    contract as expected_triples_neural). Reference protocol:
    data/re-docred/run_evaluation.py:124-184."""
    import json

    d = json.loads(Path(config.DOCRED_DEV).read_text())
    model = DeterministicGLiREL.get()
    pids = tuple(sorted({l["r"] for doc in d for l in doc["labels"]}))

    gold: set[tuple] = set()
    preds: set[tuple] = set()
    for doc in d:
        title = doc["title"]
        toks = [t for s in doc["sents"] for t in s]
        offs = np.cumsum([0] + [len(s) for s in doc["sents"]])
        # entity -> FIRST mention, global end-INCLUSIVE span
        sp_by_ent = [
            (
                int(offs[e[0]["sent_id"]] + e[0]["pos"][0]),
                int(offs[e[0]["sent_id"]] + e[0]["pos"][1] - 1),
            )
            for e in doc["vertexSet"]
        ]
        for l in doc["labels"]:
            gold.add((title, *sp_by_ent[l["h"]], *sp_by_ent[l["t"]], l["r"]))
        # duplicates kept: two entities sharing a first-mention span
        # must pack the span twice, exactly like the Spark collect_list
        sp = np.asarray(sorted(sp_by_ent), dtype=np.int64).reshape(-1, 2)
        sp = model.valid_spans(sp, len(toks))
        pidx, probs = model.score_doc(toks, sp, pids, None)
        if len(pidx) == 0:
            continue
        # pure argmax (no threshold): labels are sorted ascending, so
        # np.argmax's first-max rule IS the prob-desc/pid-asc tie-break
        best_ci = np.argmax(probs, axis=1)
        for pi in range(len(pidx)):
            hs, he = sp[pidx[pi, 0]]
            ts, te = sp[pidx[pi, 1]]
            preds.add((title, int(hs), int(he), int(ts), int(te), pids[best_ci[pi]]))

    gold_pos = {g[:5] for g in gold}
    annotated = {p for p in preds if p[:5] in gold_pos}  # J5
    vocab = sorted({p[5] for p in annotated} | {g[5] for g in gold})
    rows = []
    for lab in vocab:
        tp = sum(1 for p in annotated if p[5] == lab and p in gold)
        pred_n = sum(1 for p in annotated if p[5] == lab)
        true_n = sum(1 for g in gold if g[5] == lab)
        rows.append((lab, tp, pred_n, true_n))
    out = pd.DataFrame(rows, columns=["label", "tp", "pred_n", "true_n"])
    for c in ("tp", "pred_n", "true_n"):
        out[c] = out[c].astype("int64")
    return out


def main() -> int:
    root = Path(__file__).resolve().parent.parent / "goldens"
    ref = expected_refeval_counts()
    ref.to_parquet(root / "refeval_counts.parquet", index=False)
    print(f"refeval: {len(ref)} label rows -> {root / 'refeval_counts.parquet'}")
    print(ref.to_string(index=False))
    try:
        dn = expected_docred_neural_counts()
    except FileNotFoundError as e:
        print(f"docred neural: {e.filename} absent; "
              f"{root / 'docred_neural_counts.parquet'} left as committed")
    else:
        dn.to_parquet(root / "docred_neural_counts.parquet", index=False)
        tp, pn, tn = dn["tp"].sum(), dn["pred_n"].sum(), dn["true_n"].sum()
        print(f"docred neural: {len(dn)} label rows, micro-F1 "
              f"{2 * tp / (pn + tn):.4f} -> {root / 'docred_neural_counts.parquet'}")
    for name, sf_dir in SF_DIRS.items():
        out = expected_triples_neural(sf_dir)
        # byte-stable emission order (DuckDB parallel fetch order varies
        # run to run; values are identical — the driver compare sorts —
        # but a canonical order keeps the committed parquet diff-free)
        out = out.sort_values(list(out.columns)).reset_index(drop=True)
        dest = root / name
        dest.mkdir(parents=True, exist_ok=True)
        out.to_parquet(dest / "triples_neural.parquet", index=False)
        print(f"{name}: {len(out)} rows -> {dest / 'triples_neural.parquet'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
