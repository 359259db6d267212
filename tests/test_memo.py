"""Build-once plan expressions (functions/memo.py): a rebuilt plan reuses
the cached ``Column`` objects and computes the same rows, different
inputs get their own expressions, and a session restarted in the same
process still runs plans built from them."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from glirel_spark.functions import memo
from glirel_spark.operators import fused, linking
from glirel_spark.plans import pipeline

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

from gen_golden import SF_DIRS  # noqa: E402

SF = SF_DIRS["sf0.001"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_triples_neural_build_reuses_columns(spark):
    spark.catalog.clearCache()
    first = _rows(pipeline.triples_neural(spark, SF))
    built = dict(memo._BUILT)
    for key in ("tables.tokens", "tables.spans", "tables.text_of", "fused.hygiene"):
        assert key in built
    spark.catalog.clearCache()
    second = _rows(pipeline.triples_neural(spark, SF))
    assert memo._BUILT.keys() == built.keys()
    assert all(memo._BUILT[k][1] is col for k, (_, col) in built.items())
    assert first == second and len(first) > 0


def test_different_inputs_get_their_own_expressions(spark):
    df = spark.createDataFrame([("Spark",), ("table",)], "text string")
    a = _rows(linking.canonicalize(df, {"Spark": "Q:a"}, "text", "id").select("id"))
    b = _rows(linking.canonicalize(df, {"Spark": "Q:b"}, "text", "id").select("id"))
    assert a == [("Q:a",), ("Q:surface:table",)]
    assert b == [("Q:b",), ("Q:surface:table",)]
    keys = [k for k in memo._BUILT if k[0] == "linking.canonicalize" and k[2] == "text"]
    assert {(("spark", "Q:a"),), (("spark", "Q:b"),)} <= {k[1] for k in keys}

    docs = spark.createDataFrame(
        [("d0", "the table scan ran on spark".split(" "))],
        "doc_id string, tokens array<string>",
    )
    texts = {
        n: {m.text for (ms,) in fused.with_mentions(docs, max_chars=n).select("_ments").collect()
            for m in ms}
        for n in (5, 50)
    }
    assert texts[50] - texts[5] == {"table scan"}


_RESTART = """
import json, sys
sys.path.insert(0, {root!r})
from glirel_spark.functions import memo
from glirel_spark.operators import fused, linking
from glirel_spark.session import get_spark
from glirel_spark.sources import tables

def run(spark):
    flat = spark.createDataFrame(
        [(7, "spark feeds the table scan on spark today")], "doc_id long, text string")
    docs = tables.text_of(tables.interleaved_documents(flat)).selectExpr(
        "doc_id", "split(text, ' ') AS tokens")
    ments = fused.mentions_from(fused.with_mentions(docs))
    out = linking.canonicalize(ments, {{"Spark": "Q:spark"}}, "text", "entity")
    return sorted(tuple(r) for r in out.select("start", "end", "entity").collect())

spark = get_spark("memo-restart", cores=1, shuffle_partitions=1)
before = run(spark)
cols = {{k: v[1] for k, v in memo._BUILT.items()}}
spark.stop()
spark = get_spark("memo-restart", cores=1, shuffle_partitions=1)
after = run(spark)
reused = all(memo._BUILT[k][1] is c for k, c in cols.items())
spark.stop()
print(json.dumps({{"before": before, "after": after, "reused": reused}}))
"""


def test_restarted_session_runs_cached_expressions():
    out = subprocess.run(
        [sys.executable, "-c", _RESTART.format(root=str(ROOT))],
        capture_output=True, text=True, timeout=600, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["reused"]
    assert res["before"] == res["after"]
    assert ["0", "0", "Q:spark"] in [[str(x) for x in r] for r in res["before"]]
