"""Seeded corpus and expected outputs for the documents->graph benchmark.

    python3 perfbench/corpus.py --workload job_write --seed 7 --out DIR

writes ``DIR/documents.parquet`` (the ``documents`` table schema the
pipeline reads: doc_id, text, lang, source, n_chars) and
``DIR/expected.json``: the input properties of the corpus and the
order-insensitive hash (``tools/check_oracle.norm_hash``) of the graph
the workload must produce. It runs as its own process so that DuckDB,
the replay scorer and their memory stay out of the measured Spark driver.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

# The closed vocabulary the gazetteer, the lexical scorer and the DuckDB
# oracle are written against (TESTDATA.md corpora draw uniformly from it).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)

# docs, the inclusive token-length range, and the docs of the warm-up
# corpus (its first rows, written to DIR/warmup/), per workload
SIZES = {
    "extract_neural": (300, 10, 100, 32),
    "job_write": (3000, 10, 100, 0),
}
SHORT_T, LONG_T = 40, 80  # length bands of the scorer timings


def load_tool(name: str):
    """Import ``tools/<name>.py`` (tools/ is not a package)."""
    spec = importlib.util.spec_from_file_location(name, ROOT / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def generate(n_docs: int, t_min: int, t_max: int, seed: int) -> pd.DataFrame:
    """Lengths cover [t_min, t_max] evenly (a seeded shuffle of an exact
    uniform grid), so corpora of different seeds carry the same amount of
    work; the tokens are seeded uniform draws from VOCAB."""
    rng = np.random.default_rng(seed)
    lens = t_min + (np.arange(n_docs) * (t_max - t_min + 1)) // n_docs
    rng.shuffle(lens)
    words = np.asarray(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), t)]) for t in lens]
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def write_documents(df: pd.DataFrame, out: Path) -> None:
    schema = pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ])
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False),
        out / "documents.parquet",
    )


def properties(con, docs: pd.DataFrame) -> dict:
    from glirel_spark import oracle

    n = len(docs)
    t = docs["text"].str.count(" ") + 1
    n_ments = con.execute(f"SELECT count(*) FROM ({oracle.q_mentions()})").fetchone()[0]
    n_rel = con.execute(
        f"SELECT count(*) FROM ({oracle.q_pairs()}) WHERE is_rel"
    ).fetchone()[0]
    return {
        "docs": n,
        "mean_tokens": float(t.mean()),
        "mentions_per_doc": n_ments / n,
        "rel_pairs_per_doc": n_rel / n,
        "short_doc_share": float((t <= SHORT_T).mean()),
    }


def neural_graph(con, corpus_dir: Path) -> pd.DataFrame:
    """Graph of the neural path: the scorer replay of tools/gen_golden.py,
    sharded over processes, then the oracle's own linking CTE and the
    graph aggregation of ``oracle.q_graph``."""
    from glirel_spark import oracle

    n = min(os.cpu_count() or 1, 4)
    procs = [
        subprocess.Popen([sys.executable, __file__, "--neural-shard", f"{i}/{n}",
                          "--out", str(corpus_dir)])
        for i in range(n)
    ]
    if any(p.wait() != 0 for p in procs):
        raise RuntimeError("neural replay shard failed")
    shards = [corpus_dir / f"neural_{i}.parquet" for i in range(n)]
    triples = pd.concat([pd.read_parquet(f) for f in shards], ignore_index=True)
    con.register("triples", triples)
    return con.execute(
        "WITH " + oracle.CTE_LINKED.strip().rstrip(",") + """
SELECT subj, pred, obj,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       max(prob) AS max_prob,
       min(doc_id) AS min_doc_id
FROM linked GROUP BY subj, pred, obj"""
    ).fetchdf()


def neural_shard(corpus_dir: Path, shard: str) -> None:
    """Replay the documents ``doc_id % n == i`` for ``shard`` = "i/n"."""
    i, n = (int(x) for x in shard.split("/"))
    ids = pq.read_table(corpus_dir / "documents.parquet", columns=["doc_id"])
    doc_ids = {str(d) for d in ids.column("doc_id").to_pylist() if d % n == i}
    triples = load_tool("gen_golden").expected_triples_neural(str(corpus_dir), doc_ids)
    triples.to_parquet(corpus_dir / f"neural_{i}.parquet", index=False)


def prepare(workload: str, seed: int, out: Path) -> dict:
    import duckdb

    from glirel_spark import oracle

    n_docs, t_min, t_max, n_warmup = SIZES[workload]
    out.mkdir(parents=True, exist_ok=True)
    docs = generate(n_docs, t_min, t_max, seed=seed)
    write_documents(docs, out)
    if n_warmup:
        (out / "warmup").mkdir()
        write_documents(docs.head(n_warmup), out / "warmup")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{out / 'documents.parquet'}')"
    )
    if workload == "extract_neural":
        graph = neural_graph(con, out)
    else:
        graph = con.execute(oracle.q_graph()).fetchdf()
    expected = {
        "workload": workload,
        "seed": seed,
        "properties": properties(con, docs),
        "graph_edges": len(graph),
        "graph_hash": load_tool("check_oracle").norm_hash(graph),
    }
    (out / "expected.json").write_text(json.dumps(expected, indent=1))
    return expected


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--out", required=True)
    ap.add_argument("--neural-shard", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.neural_shard:
        neural_shard(Path(a.out), a.neural_shard)
    else:
        prepare(a.workload, a.seed, Path(a.out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
