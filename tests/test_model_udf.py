"""Tensor-plane scorer: determinism, pair-ordering contract parity with
the fused J1, label-rep caching, decode integration through both
the in-UDF decode and the relational decode chain, and the in-UDF
decode helper (topk_decode)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from glirel_spark import config
from glirel_spark.model.scorer import BLAS_CORE, DeterministicGLiREL
from glirel_spark.model.udf import neural_triples, score_pairs_neural, topk_decode
from glirel_spark.operators.fused import mentions_fused, pairs_fused

UNCONSTRAINED = {lab: {} for lab in config.RELATION_LABELS}


def test_scorer_deterministic_across_instances():
    a, b = DeterministicGLiREL(), DeterministicGLiREL()
    spans = np.array([[0, 0], [2, 2], [3, 4], [5, 6]])  # [5,6] invalid -> P4-masked
    toks = "spark feeds the table scan today".split()
    labels = ("feeds", "used by")
    pa, sa = a.score_doc(toks, spans, labels, 8)
    pb, sb = b.score_doc(toks, spans, labels, 8)
    assert np.array_equal(pa, pb) and np.allclose(sa, sb, atol=0)


def test_bilstm_batch_equals_single_and_is_bidirectional():
    m = DeterministicGLiREL.get()
    rng = np.random.default_rng(0)
    docs = [rng.standard_normal((n, 32)) for n in (7, 1, 100, 3, 0, 55)]
    batch = m.encode_batch(docs)
    for e, b in zip(docs, batch):
        assert b.shape == e.shape
        # any batch composition yields the doc's standalone bits — the
        # invariant gen_golden.py's per-doc replay relies on
        assert np.array_equal(m.encode_batch([e])[0], b)
    x = rng.standard_normal((10, 32))
    y = x.copy()
    y[9] += 1.0
    # T8 is a real bidirectional recurrence: the LAST token must change
    # the FIRST position's rep (window-mean or forward-only would not)
    assert not np.array_equal(m.encode_batch([x])[0][0], m.encode_batch([y])[0][0])


def test_checkpoint_pluggable_weights(tmp_path, monkeypatch):
    base = DeterministicGLiREL()
    path = tmp_path / "ckpt.npz"
    w = np.zeros_like(base.lstm_fwd_Wx)
    np.savez(path, lstm_fwd_Wx=w)
    monkeypatch.setenv("GLIREL_NUMPY_CHECKPOINT", str(path))
    loaded = DeterministicGLiREL()
    assert np.array_equal(loaded.lstm_fwd_Wx, w)
    assert np.array_equal(loaded.W_pair, base.W_pair)  # others keep seeded init
    np.savez(path, lstm_fwd_Wx=np.zeros((3, 3)))
    import pytest

    with pytest.raises(ValueError, match="shape"):
        DeterministicGLiREL()
    monkeypatch.delenv("GLIREL_NUMPY_CHECKPOINT")


def test_pair_indices_match_reference_contract():
    # row-major i!=j (test_rel_rep.py golden shape)
    starts = np.array([1, 2, 3])
    idx = DeterministicGLiREL.pair_indices(3, starts, None)
    assert idx.tolist() == [[0, 1], [0, 2], [1, 0], [1, 2], [2, 0], [2, 1]]
    idx_d = DeterministicGLiREL.pair_indices(3, np.array([0, 5, 100]), 8)
    assert idx_d.tolist() == [[0, 1], [1, 0]]


def test_udf_pairs_match_relational_j1(spark):
    docs = spark.createDataFrame(
        [("d0", "spark query table scan window spark".split(" "))],
        "doc_id string, tokens array<string>",
    )
    m = mentions_fused(docs)
    rel = {
        (r.h_start, r.h_end, r.t_start, r.t_end)
        for r in pairs_fused(docs).filter("is_rel").collect()
    }
    udf_pairs = {
        (r.h_start, r.h_end, r.t_start, r.t_end)
        for r in score_pairs_neural(docs, m).select(
            "h_start", "h_end", "t_start", "t_end"
        ).distinct().collect()
    }
    assert rel == udf_pairs


@pytest.mark.parametrize("path", ["fused", "decode_chain"])
def test_neural_triples_decode_integration(spark, path, neural_decode_chain):
    docs = spark.createDataFrame(
        [("d0", "spark query table scan window customer".split(" "))],
        "doc_id string, tokens array<string>",
    )
    m = mentions_fused(docs)
    if path == "fused":
        out = neural_triples(docs, m, threshold=0.5, top_k=1)
    else:
        out = neural_decode_chain(docs, m, threshold=0.5)
    rows = out.collect()
    assert all(0.5 < r.prob <= 1.0 for r in rows)
    # top_k=1: at most one label per position pair
    keys = [(r.head_start, r.head_end, r.tail_start, r.tail_end) for r in rows]
    assert len(keys) == len(set(keys))
    # output convention: exclusive end
    assert all(r.head_end > r.head_start for r in rows)

@pytest.mark.parametrize("path", ["scored", "fused"])
def test_out_of_range_span_positions_map_correctly(spark, path):
    """P4 regression: when a mention's end exceeds the token sequence,
    the UDF must drop it BEFORE mapping pair indices back to span rows —
    otherwise every later span's positions shift (the round-1 latent
    bug: indices into the unfiltered array)."""
    docs = spark.createDataFrame(
        [("d0", "spark query table".split(" "))],
        "doc_id string, tokens array<string>",
    )
    # phantom span (9,9) sorts FIRST in no... actually sorts last; use
    # (1,9): sorts between (0,0) and (2,2) so a stale index would shift
    # the (2,2) mention's reported positions.
    m = spark.createDataFrame(
        [("d0", 0, 0, 0, "TOOL", "spark"),
         ("d0", 1, 1, 9, "EVENT", "broken"),
         ("d0", 2, 2, 2, "OBJECT", "table")],
        "doc_id string, m_id int, start int, end int, type string, text string",
    )
    if path == "scored":
        out = score_pairs_neural(docs, m).select(
            "h_start", "h_end", "t_start", "t_end"
        )
    else:
        # threshold 0 + no constraints: every scored pair decodes
        out = neural_triples(
            docs, m, threshold=0.0, top_k=1, labels=UNCONSTRAINED
        ).select(
            F.col("head_start").alias("h_start"),
            (F.col("head_end") - 1).alias("h_end"),
            F.col("tail_start").alias("t_start"),
            (F.col("tail_end") - 1).alias("t_end"),
        )
    got = {(r.h_start, r.h_end, r.t_start, r.t_end) for r in out.distinct().collect()}
    # only the two valid spans pair up; no position may reference (1,9)
    assert got == {(0, 0, 2, 2), (2, 2, 0, 0)}


def test_udf_scores_match_direct_score_doc(spark):
    """The batched/factorized embedding path must be BIT-identical to
    the per-doc encode path (same kernel, different batching)."""
    toks = "spark feeds the table scan near customer query".split(" ")
    docs = spark.createDataFrame(
        [("d0", toks)], "doc_id string, tokens array<string>"
    )
    m = mentions_fused(docs)
    rows = score_pairs_neural(docs, m).collect()
    model = DeterministicGLiREL()
    sp = np.asarray(
        sorted((r.start, r.end) for r in m.collect()), dtype=np.int64
    ).reshape(-1, 2)
    from glirel_spark import config

    labels = tuple(sorted(config.RELATION_LABELS))
    pidx, probs = model.score_doc(toks, sp, labels, 8)
    expect = {}
    for pi in range(len(pidx)):
        hs, he = sp[pidx[pi, 0]]
        ts, te = sp[pidx[pi, 1]]
        for ci, lab in enumerate(labels):
            expect[(hs, he, ts, te, lab)] = probs[pi, ci]
    assert len(rows) == len(expect)
    for r in rows:
        assert r.prob == expect[(r.h_start, r.h_end, r.t_start, r.t_end, r.label)]


def test_per_example_label_sets(spark):
    """fixed_relation_types: false (base.py:327-339): each document
    brings its OWN relation vocabulary; scores must equal the per-doc
    score_doc replay with exactly that label set."""
    from glirel_spark import config

    d0_labs = ["feeds", "used by"]
    d1_labs = ["runs on"]
    docs = spark.createDataFrame(
        [("d0", "spark feeds the table".split(" "), d0_labs),
         ("d1", "table scan runs on spark".split(" "), d1_labs)],
        "doc_id string, tokens array<string>, labels array<string>",
    )
    m = spark.createDataFrame(
        [("d0", 0, 0, "TOOL", "spark"), ("d0", 3, 3, "OBJECT", "table"),
         ("d1", 0, 1, "ALGO", "table scan"), ("d1", 4, 4, "TOOL", "spark")],
        "doc_id string, start int, end int, type string, text string",
    )
    rows = score_pairs_neural(docs, m, labels_col="labels").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.label)
    assert by_doc["d0"] == set(d0_labs)
    assert by_doc["d1"] == set(d1_labs)
    model = DeterministicGLiREL()
    toks1 = "table scan runs on spark".split(" ")
    sp1 = np.array([[0, 1], [4, 4]])
    pidx, probs = model.score_doc(
        toks1, sp1, tuple(d1_labs), config.MAX_PAIR_DISTANCE
    )
    expect = {}
    for pi in range(len(pidx)):
        hs, he = sp1[pidx[pi, 0]]
        ts, te = sp1[pidx[pi, 1]]
        expect[(hs, he, ts, te)] = probs[pi, 0]
    got = {(r.h_start, r.h_end, r.t_start, r.t_end): r.prob
           for r in rows if r.doc_id == "d1"}
    assert got == expect


def test_topk_decode_k1_ties_pick_lowest_label():
    probs = np.array([
        [0.7, 0.9, 0.9],   # tie between labels 1 and 2 -> 1
        [0.8, 0.8, 0.8],   # three-way tie -> 0
        [0.2, 0.4, 0.5],   # max not above the threshold -> dropped
        [0.3, 0.6, 0.6],   # threshold is strict: 0.6 > 0.6 is false
    ])
    types = np.array(["A", "A", "A", "A"], dtype=object)
    keep, best = topk_decode(probs, 0.6, 1, types, types, [(None, None)] * 3)
    assert keep.tolist() == [0, 1]
    assert best.tolist() == [1, 0]


def test_topk_decode_k1_constraint_on_best_label_only():
    """A best label that fails its constraint drops the pair — no
    fallback to the runner-up (decode applies P9 after top-k)."""
    probs = np.array([
        [0.9, 0.8],   # best 0 requires head X; head is Y -> dropped
        [0.9, 0.8],   # head X -> kept with label 0
        [0.1, 0.9],   # best 1: tail must be in [] -> dropped
        [0.9, 0.1],   # head type None matches nothing -> dropped
    ])
    h = np.array(["Y", "X", "X", None], dtype=object)
    t = np.array(["Z", "Z", "Z", "Z"], dtype=object)
    keep, best = topk_decode(probs, 0.5, 1, h, t, [(["X"], None), (None, [])])
    assert keep.tolist() == [1]
    assert best.tolist() == [0]


def test_topk_decode_k2_tie_at_rank_2_picks_lower_label():
    probs = np.array([
        [0.6, 0.9, 0.6],   # rank 2: labels 0 and 2 tie -> 0
        [0.7, 0.7, 0.9],   # rank 2: labels 0 and 1 tie -> 0
    ])
    types = np.array(["A", "A"], dtype=object)
    keep, best = topk_decode(probs, 0.5, 2, types, types, [(None, None)] * 3)
    assert keep.tolist() == [0, 0, 1, 1]
    assert best.tolist() == [1, 0, 2, 0]


def test_topk_decode_k2_threshold_between_ranks_keeps_one_row():
    probs = np.array([
        [0.2, 0.8, 0.4],   # rank 1 above 0.5, rank 2 below -> one row
        [0.5, 0.3, 0.9],   # rank 2 at the threshold: strict -> one row
    ])
    types = np.array(["A", "A"], dtype=object)
    keep, best = topk_decode(probs, 0.5, 2, types, types, [(None, None)] * 3)
    assert keep.tolist() == [0, 1]
    assert best.tolist() == [1, 2]


def test_topk_decode_k2_constraint_failing_rank_2_drops_only_that_row():
    """The rank-2 label fails its constraint: only its row goes, the
    rank-1 row stays, and rank 3 does not move up."""
    probs = np.array([[0.9, 0.8, 0.7]])
    h = np.array(["X"], dtype=object)
    t = np.array(["Z"], dtype=object)
    keep, best = topk_decode(
        probs, 0.5, 2, h, t, [(None, None), (["Y"], None), (None, None)]
    )
    assert keep.tolist() == [0]
    assert best.tolist() == [0]


def test_scorer_udf_batch_equals_score_doc_alone():
    """Executor == replay: documents of mixed lengths scored together in
    one Arrow batch through the mapInPandas function are bit-equal to
    ``score_doc`` on each document alone (the golden replay's path)."""
    import pandas as pd

    from glirel_spark.model import udf

    rng = np.random.default_rng(3)
    vocab = "spark table scan query window customer join data".split()
    docs = []
    for i, n in enumerate((100, 4, 37, 12, 71)):
        toks = [str(w) for w in rng.choice(vocab, size=n)]
        starts = np.sort(rng.choice(n - 1, size=min(6, n - 1), replace=False))
        docs.append((f"d{i}", toks, starts, starts + (starts % 2)))
    pdf = pd.DataFrame({
        "doc_id": [d for d, _, _, _ in docs],
        "tokens": [np.asarray(t, dtype=object) for _, t, _, _ in docs],
        "_ms": [s for _, _, s, _ in docs],
        "_me": [e for _, _, _, e in docs],
    })
    labels = tuple(sorted(config.RELATION_LABELS))
    run = udf._scorer(labels, config.MAX_PAIR_DISTANCE, None)
    got = pd.concat(list(run(iter([pdf]))), ignore_index=True)
    model = DeterministicGLiREL.get()
    n_expected = 0
    for doc_id, toks, starts, ends in docs:
        sp = model.valid_spans(np.stack([starts, ends], axis=1), len(toks))
        pidx, probs = model.score_doc(toks, sp, labels, config.MAX_PAIR_DISTANCE)
        rows = got[got.doc_id == doc_id]
        assert len(rows) == probs.size
        n_expected += probs.size
        expect = {
            (int(sp[h, 0]), int(sp[h, 1]), int(sp[t, 0]), int(sp[t, 1]), lab): probs[pi, ci]
            for pi, (h, t) in enumerate(pidx) for ci, lab in enumerate(labels)
        }
        for r in rows.itertuples(index=False):
            assert r.prob == expect[(r.h_start, r.h_end, r.t_start, r.t_end, r.label)]
    assert n_expected == len(got) > 0


def test_formatted_frame_has_all_null_int32_raw():
    """``_frame``'s decoded output: exclusive ends and a ``raw`` column
    that is all NULL with pandas' nullable Int32 dtype, equal to the
    frame built from a list of ``pd.NA``."""
    import pandas as pd

    from glirel_spark.model import udf

    def obj(*xs):
        return np.array(xs, dtype=object)

    parts = {  # two documents' chunks, as _scorer collects them
        "_row": [np.array([0, 0]), np.array([1])],
        "hs": [np.array([0, 3]), np.array([2])],
        "he": [np.array([1, 3]), np.array([4])],
        "ts": [np.array([3, 0]), np.array([5])],
        "te": [np.array([3, 1]), np.array([5])],
        "head_text": [obj("a b", "c"), obj("d")],
        "tail_text": [obj("c", "a b"), obj("e")],
        "label": [obj("feeds", "runs on"), obj("used by")],
        "prob": [np.array([0.5, 0.75]), np.array([0.625])],
    }
    got = udf._frame(pd.Series(["d0", "d1"]), parts, formatted=True)
    expect = pd.DataFrame({
        "doc_id": obj("d0", "d0", "d1"),
        "head_start": np.array([0, 3, 2], np.int32),
        "head_end": np.array([2, 4, 5], np.int32),
        "tail_start": np.array([3, 0, 5], np.int32),
        "tail_end": np.array([4, 2, 6], np.int32),
        "head_text": obj("a b", "c", "d"),
        "tail_text": obj("c", "a b", "e"),
        "label": obj("feeds", "runs on", "used by"),
        "raw": pd.array([pd.NA] * 3, dtype="Int32"),
        "prob": np.array([0.5, 0.75, 0.625]),
    })
    pd.testing.assert_frame_equal(got, expect, check_exact=True)
    assert got["raw"].dtype == "Int32" and got["raw"].isna().all()


def test_workers_run_the_stat_gated_zipimporter(spark):
    """The package's ``zipimporter.invalidate_caches`` wrapper reaches the
    Python workers, not just the driver: a task that imports
    ``glirel_spark`` finds it installed on its own interpreter."""
    import sys

    if sys.version_info >= (3, 13):
        pytest.skip("installed on CPython < 3.13 only")

    def probe(batches):
        import zipimport

        import pandas as pd

        import glirel_spark  # noqa: F401

        f = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pd.DataFrame({"impl": [f"{f.__module__}:{f.__qualname__}"]})

    rows = spark.range(8).repartition(2).mapInPandas(probe, "impl string").collect()
    assert len(rows) == 2
    assert {r.impl for r in rows} == {
        "glirel_spark:_keep_unchanged_zip_directories.<locals>.invalidate_caches"
    }


_ENCODE_DIGEST = """
import hashlib, sys
import numpy as np  # loads OpenBLAS before the model pins its threads
sys.path.insert(0, {root!r})
from glirel_spark import config
from glirel_spark.model.scorer import DeterministicGLiREL
m = DeterministicGLiREL.get()
labels = tuple(sorted(config.RELATION_LABELS))
rng = np.random.default_rng(5)
vocab = "spark table scan query window customer join data".split()
h = hashlib.sha256()
for n in (3, 17, 64, 150):
    word, rel = m.encode_doc([str(w) for w in rng.choice(vocab, size=n)], labels)
    h.update(word.tobytes())
    h.update(rel.tobytes())
print(h.hexdigest())
"""


def test_encode_doc_bits_independent_of_blas_threads():
    """``encode_doc`` gives the same bits whatever OPENBLAS_NUM_THREADS a
    process started with: the model pins OpenBLAS to one thread at run
    time, after numpy has read the variable."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = _ENCODE_DIGEST.format(root=str(Path(__file__).resolve().parents[1]))
    digests = {}
    for threads in ("1", "2", None):
        # OpenBLAS falls back to these when OPENBLAS_NUM_THREADS is unset
        env = {k: v for k, v in os.environ.items() if k not in
               ("OPENBLAS_NUM_THREADS", "GOTO_NUM_THREADS", "OMP_NUM_THREADS")}
        if threads is not None:
            env["OPENBLAS_NUM_THREADS"] = threads
        out = subprocess.run([sys.executable, "-c", code], env=env, timeout=300,
                             capture_output=True, text=True, check=True)
        digests[threads] = out.stdout.strip()
    assert len(set(digests.values())) == 1, digests


_CORENAME = """
import sys
import numpy as np  # dispatches OpenBLAS to a kernel before the model loads
sys.path.insert(0, {root!r})
from glirel_spark.model.scorer import DeterministicGLiREL, blas_corename
DeterministicGLiREL()
print(blas_corename())
"""


def _cpu_has_avx512_skx() -> bool:
    """AVX-512 F/CD/BW/DQ/VL, the set the SkylakeX kernel runs on
    (read apart from scorer._has_avx512, so a broken gate there cannot
    skip this guard)."""
    try:
        from numpy.core._multiarray_umath import __cpu_features__
    except ImportError:  # numpy >= 2
        from numpy._core._multiarray_umath import __cpu_features__
    return bool(__cpu_features__.get("AVX512_SKX"))


@pytest.mark.skipif(not _cpu_has_avx512_skx(), reason="CPU lacks AVX-512 (SKX set)")
def test_model_pins_declared_blas_core():
    """A process that loaded numpy first still scores on ``BLAS_CORE``,
    the kernel the committed goldens are the bits of: the model re-runs
    OpenBLAS's dispatch at run time, whatever CPU model it detected."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = _CORENAME.format(root=str(Path(__file__).resolve().parents[1]))
    # a model built earlier in this process set it; numpy must load
    # with the kernel it detects itself
    env = {k: v for k, v in os.environ.items() if k != "OPENBLAS_CORETYPE"}
    out = subprocess.run([sys.executable, "-c", code], env=env, timeout=300,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == BLAS_CORE, out.stderr
