"""Property tests (hypothesis) over the pure tensor-plane kernels.

These are the invariants the correctness architecture RELIES on rather
than merely exhibits: gen_golden.py replays docs one at a time and
asserts bit-equality with batched executor output, so batch-composition
invariance of the encoder is load-bearing; the pair-ordering contract
is what keeps the fused J1 (fused.pairs_from) and the in-UDF pair generation
row-identical. Spark itself stays out of these tests (one process,
no session) so hypothesis can run hundreds of examples cheaply.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from glirel_spark.model.scorer import D, DeterministicGLiREL

_model = DeterministicGLiREL()


@st.composite
def span_arrays(draw):
    n = draw(st.integers(0, 12))
    spans = sorted(
        {
            (s, s + draw(st.integers(0, 4)))
            for s in (draw(st.integers(0, 30)) for _ in range(n))
        }
    )
    return np.asarray(spans, dtype=np.int64).reshape(-1, 2)


@given(span_arrays(), st.one_of(st.none(), st.integers(0, 40)))
@settings(max_examples=200, deadline=None)
def test_pair_indices_contract(spans, max_dist):
    """Row-major (i, j), i != j, |start_i - start_j| <= max_dist — the
    generate_entity_pairs_indices contract (reference base.py:59-109)."""
    n = len(spans)
    got = DeterministicGLiREL.pair_indices(n, spans[:, 0], max_dist).tolist()
    expect = [
        [i, j]
        for i in range(n)
        for j in range(n)
        if i != j
        and (max_dist is None or abs(int(spans[i, 0]) - int(spans[j, 0])) <= max_dist)
    ]
    assert got == expect


@given(span_arrays(), st.integers(0, 40))
@settings(max_examples=200, deadline=None)
def test_valid_spans_is_a_filter(spans, n_tokens):
    out = DeterministicGLiREL.valid_spans(spans, n_tokens)
    kept = [list(r) for r in out]
    expect = [list(r) for r in spans if r[1] <= n_tokens - 1]
    assert kept == expect


@given(
    st.lists(st.integers(0, 40), min_size=1, max_size=6),
    st.integers(0, 2**31 - 1),
)
@settings(max_examples=50, deadline=None)
def test_encoder_batch_composition_invariance(lengths, seed):
    """A doc's BiLSTM reps are bit-identical standalone vs inside ANY
    batch (padding must never leak through either direction). This is
    the exact property that lets gen_golden.py's per-doc replay verify
    batched executor output."""
    rng = np.random.default_rng(seed)
    docs = [rng.standard_normal((n, D)) for n in lengths]
    batch = _model.encode_batch(docs)
    for e, b in zip(docs, batch):
        assert b.shape == e.shape
        assert np.array_equal(_model.encode_batch([e])[0], b)


@given(st.integers(1, 40), st.integers(0, 2**31 - 1))
@settings(max_examples=50, deadline=None)
def test_encoder_no_cross_doc_contamination(n, seed):
    """Changing one doc in a batch never changes another doc's reps."""
    rng = np.random.default_rng(seed)
    a = rng.standard_normal((n, D))
    other1 = rng.standard_normal((n + 3, D))
    other2 = rng.standard_normal((max(1, n - 1), D))
    r1 = _model.encode_batch([a, other1])[0]
    r2 = _model.encode_batch([a, other2])[0]
    assert np.array_equal(r1, r2)
