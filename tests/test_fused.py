"""Fused per-doc plan == the DuckDB oracle's relational mention and pair
chain (oracle.CTE_MENTIONS / CTE_PAIRS), row for row."""

from __future__ import annotations

import duckdb

from glirel_spark import oracle
from glirel_spark.operators.fused import mentions_fused, pairs_fused
from glirel_spark.plans.pipeline import docs_tokens

SF = "/root/testdata/sf0.001"

M_COLS = ["doc_id", "m_id", "start", "end", "type", "text"]
P_COLS = [
    "doc_id", "head_m_id", "tail_m_id", "h_start", "h_end", "t_start",
    "t_end", "h_type", "t_type", "h_text", "t_text", "dist", "is_rel",
    "is_coref",
]


def _spark_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _oracle_rows(con, sql, cols):
    quoted = ", ".join(f'"{c}"' for c in cols)
    return sorted(con.execute(f"SELECT {quoted} FROM ({sql})").fetchall())


def test_fused_equals_relational_on_corpus(spark):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    dt = docs_tokens(spark, SF).cache()
    want_m = _oracle_rows(con, oracle.q_mentions(), M_COLS)
    assert len(want_m) > 0
    assert _spark_rows(mentions_fused(dt), M_COLS) == want_m

    want_p = _oracle_rows(con, oracle.q_pairs(), P_COLS)
    assert len(want_p) > 0
    assert _spark_rows(pairs_fused(dt), P_COLS) == want_p
    dt.unpersist()


def test_fused_edge_cases(spark):
    docs = [
        ("a", ["slow", "big"]),          # no mentions
        ("b", ["spark"]),                 # single mention, no pairs
        ("c", ["sort", "merge", "join"]),  # overlap chain
        ("d", ["table", "scan", "table"]),  # bigram suppresses first uni only
        ("e", ["spark"] + ["x"] * 9 + ["query"]),  # beyond distance: coref only
    ]
    df = spark.createDataFrame(docs, "doc_id string, tokens array<string>")
    m = {(r.doc_id, r.start, r.end, r.text) for r in mentions_fused(df).collect()}
    assert m == {
        ("b", 0, 0, "spark"),
        ("c", 0, 1, "sort merge"),
        ("d", 0, 1, "table scan"),
        ("d", 2, 2, "table"),
        ("e", 0, 0, "spark"),
        ("e", 10, 10, "query"),
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id VARCHAR, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", [(d, " ".join(t)) for d, t in docs]
    )
    assert _spark_rows(mentions_fused(df), M_COLS) == _oracle_rows(
        con, oracle.q_mentions(), M_COLS
    )
    pairs = _spark_rows(pairs_fused(df), P_COLS)
    assert pairs == _oracle_rows(con, oracle.q_pairs(), P_COLS)
    # d: both directions within distance; e: the i<j coref row only
    assert [(p[0], p[1], p[2], p[-2], p[-1]) for p in pairs] == [
        ("d", 0, 1, True, True),
        ("d", 1, 0, True, False),
        ("e", 0, 1, False, True),
    ]
