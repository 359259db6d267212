"""Golden-table guard for the tensor plane.

The committed goldens/<sf>/triples_neural.parquet files are the value
oracle for the neural query (oracle.q_triples_neural). This test
regenerates the sf0.001 expectation from scratch (pure pandas + numpy +
DuckDB — tools/gen_golden.py) and asserts it is IDENTICAL to the
committed file, so any drift in the scorer double, the mention stage, or
the decode semantics breaks loudly here instead of silently staling the
driver gate.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd

from glirel_spark.model.scorer import BLAS_CORE, blas_corename

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))


def test_committed_golden_matches_regeneration():
    from gen_golden import OUT_COLS, expected_triples_neural

    fresh = expected_triples_neural("/root/testdata/sf0.001")
    committed = pd.read_parquet(ROOT / "goldens/sf0.001/triples_neural.parquet")
    key = ["doc_id", "head_start", "head_end", "tail_start", "tail_end", "label"]
    f = fresh.sort_values(key).reset_index(drop=True)
    c = committed.sort_values(key).reset_index(drop=True)
    assert list(f.columns) == OUT_COLS == list(c.columns)
    assert len(f) == len(c)
    for col in OUT_COLS:
        if col == "raw":
            assert f[col].isna().all() and c[col].isna().all()
            continue
        # exact equality — prob must match BIT-for-bit: per-document
        # BLAS on one pinned OpenBLAS thread (scorer._mm) is
        # reproducible, but only on the CPU kernel the goldens were
        # generated with
        assert (f[col].values == c[col].values).all(), (
            f"{col} differs from the committed golden, which holds the "
            f"bits of the declared OpenBLAS kernel scorer.BLAS_CORE = "
            f"{BLAS_CORE}; this process runs {blas_corename()}. Do not "
            f"regenerate the goldens on another kernel: they would hold "
            f"that kernel's bits instead of the declared contract's"
        )


def test_committed_refeval_golden_matches_regeneration():
    """The refeval per-label counts golden (the oracle for
    refeval_counts/refeval_metrics) regenerates identically from the
    committed fixture — drift in the scorer, the JSONL ingestion
    contract, or the decode/J5 semantics breaks HERE, not silently in
    the driver gate."""
    from gen_golden import expected_refeval_counts

    fresh = expected_refeval_counts().sort_values("label").reset_index(drop=True)
    committed = (
        pd.read_parquet(ROOT / "goldens/refeval_counts.parquet")
        .sort_values("label")
        .reset_index(drop=True)
    )
    assert fresh.equals(committed)


def test_committed_refeval_fixture_is_regenerable():
    """The WikiZSL-shaped fixture itself is deterministic: regenerating
    it produces byte-identical JSONL (guards against hand-edits that
    would desync fixture and golden)."""
    import json
    import random
    import sys

    sys.path.insert(0, str(ROOT / "tools"))
    import gen_refeval_fixture as g

    rng = random.Random(g.SEED)
    lines = [
        json.dumps(g.make_doc(rng, i), ensure_ascii=False)
        for i in range(g.N_DOCS)
    ]
    committed = (ROOT / "fixtures/wikizsl_dev.jsonl").read_text().splitlines()
    assert lines == committed
