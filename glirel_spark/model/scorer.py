"""Tensor-plane scorer: the GLiREL architecture as a deterministic
numpy implementation.

The reference scores entity pairs with (glirel/model.py:141-259):
  T1  label prompt construction        (model.py:150-178)
  T2-T6 transformer token encoding     (token_rep.py,
                                        transformer_embeddings.py)
  T7  label-embedding strategy 'both'  (model.py:205-214)
  T8  BiLSTM word re-encoder           (layers.py:9-30)
  T9  span rep markerv1: FFN(start) ⊕ FFN(end) -> relu -> FFN
                                       (rel_rep.py:12-37, span_rep.py:5-29)
  T11 pair rep: gather + concat + out_project (rel_rep.py:131-207)
  T12 prompt FFN over label reps       (model.py:75-80, 226)
  T13 dot scorer + sigmoid             (layers.py:146-194, model.py:383)

Since round 3 the token encoder (T2-T6) is a REAL numpy transformer
forward (model/encoder.py): the full prompt sequence
``[REL] label_1 [REL] label_2 ... [SEP] token_1 ... token_n``
(model.py:152-178) is subword-tokenized and encoded through a
DeBERTa-style disentangled-attention stack, then split back into the
document word representations (positions after the prompt,
model.py:193-201) and the per-label relation representations (prompt
positions before [SEP]; strategy 'both' = mean of each ([REL], label)
embedding pair, model.py:211-213). Label reps are therefore
DOCUMENT-CONTEXTUAL, exactly as in the reference — the prompt attends
to the document it is scoring. The T8 word-level re-encoder is a real
single-layer BiLSTM (the same recurrence as layers.py:9-30
LstmSeq2SeqEncoder: PyTorch (i, f, g, o) gate order, D/2 hidden per
direction, concat to D), run batched over the Arrow batch.

Weights AND dimensions are pluggable: if ``GLIREL_NUMPY_CHECKPOINT``
names an ``.npz`` file, every parameter is loaded from it by name
(``enc_*`` names route into the transformer; see
tools/export_weights.py for the torch checkpoint -> npz mapping), and
the optional integer vectors ``dims`` = [D, H] and ``enc_dims`` =
[vocab, enc_hidden, layers, heads, ffn, rel_k] re-shape the whole
model first — so a real exported DeBERTa-v3 checkpoint (hidden 1024,
projection to 768) instantiates this same code. Otherwise the seeded
blake2b init below is the "checkpoint", keeping the whole plane
deterministic and golden-checkable. The Spark plumbing
(model-per-executor singleton, Arrow batching) is identical either way.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import warnings

import numpy as np

from glirel_spark.model.encoder import NumpyTransformer

D = 32  # scorer hidden width (reference config hidden_size)
H = 32  # span/pair/label rep width
HL = D // 2  # per-direction LSTM hidden (concat -> D)
_SEED = 42

SUBTOKEN_POOLING = "first"  # configs/config_wiki_zsl.yaml:26

# The OpenBLAS kernel whose bits the committed goldens are (its AVX-512
# double-precision gemm; SapphireRapids and Cooperlake give the same
# bits). DeterministicGLiREL pins it at run time (_pin_blas_core).
BLAS_CORE = "SkylakeX"


def _rng(tag: str) -> np.random.Generator:
    h = hashlib.blake2b(f"{_SEED}:{tag}".encode(), digest_size=8).digest()
    return np.random.default_rng(int.from_bytes(h, "little"))


def _mm(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-document matmul through BLAS. Its bits are reproducible
    because every operand's shape depends on one document only and
    OpenBLAS runs single-threaded (``_pin_blas_threads``) on the
    declared kernel ``BLAS_CORE`` (``_pin_blas_core``); rows of several
    documents stacked into one call would NOT keep them, which is why
    the batched BiLSTM stays on einsum."""
    return np.atleast_2d(a) @ np.atleast_2d(b)


def _openblas_fns(name: str) -> list:
    """OpenBLAS's function ``name`` (or its 64-bit-interface twin
    ``name64_``) in each OpenBLAS library loaded into this process
    (numpy's own), found by path in /proc/self/maps."""
    try:
        with open("/proc/self/maps") as f:
            paths = {ln.split()[-1] for ln in f if "openblas" in ln.rsplit("/", 1)[-1]}
    except OSError:
        return []
    fns = []
    for path in sorted(paths):
        lib = ctypes.CDLL(path)
        fn = getattr(lib, name + "64_", None) or getattr(lib, name, None)
        if fn is not None:
            fns.append(fn)
    return fns


def _pin_blas_threads() -> None:
    """One OpenBLAS thread in this process, set at run time.

    ``OPENBLAS_NUM_THREADS`` is read only when numpy loads, and a
    process may import numpy before glirel_spark (the golden replay,
    a test runner), so the environment pin in session.py cannot be
    relied on. A multi-threaded gemm splits its work differently and
    changes low bits, breaking executor == replay."""
    for fn in _openblas_fns("openblas_set_num_threads"):
        fn.argtypes = [ctypes.c_int]
        fn.restype = None
        fn(1)


def blas_corename() -> str | None:
    """The CPU kernel OpenBLAS dispatches to in this process (e.g.
    'SkylakeX', 'Haswell'). Probability bits depend on it: they equal
    the committed goldens' only on ``BLAS_CORE``, which
    ``DeterministicGLiREL`` pins."""
    for fn in _openblas_fns("openblas_get_corename"):
        fn.argtypes = []
        fn.restype = ctypes.c_char_p
        return fn().decode()
    return None


def _pin_blas_core() -> None:
    """Dispatch OpenBLAS to ``BLAS_CORE`` in this process, at run time.

    OpenBLAS picks its kernel from the CPU model when numpy loads, and
    a model it does not know gets a generic kernel (e.g. 'Prescott')
    whose low bits differ. ``OPENBLAS_CORETYPE`` is read only at that
    load, so, as for the thread pin, it is set here and the dispatch is
    re-run. A CPU that lacks the kernel's instructions keeps its own
    kernel (``DeterministicGLiREL`` warns)."""
    if blas_corename() == BLAS_CORE or not _has_avx512():
        return
    os.environ["OPENBLAS_CORETYPE"] = BLAS_CORE
    for quit_, init in zip(_openblas_fns("gotoblas_dynamic_quit"),
                           _openblas_fns("gotoblas_dynamic_init")):
        quit_.restype = init.restype = None
        quit_()
        init()


def _has_avx512() -> bool:
    """Whether the CPU and OS run the AVX-512 set ``BLAS_CORE`` needs."""
    try:
        from numpy.core._multiarray_umath import __cpu_features__
    except ImportError:  # numpy >= 2
        from numpy._core._multiarray_umath import __cpu_features__
    return bool(__cpu_features__.get("AVX512_SKX"))


class DeterministicGLiREL:
    """Process-level singleton (one per executor python worker)."""

    _instance: "DeterministicGLiREL | None" = None

    @classmethod
    def get(cls) -> "DeterministicGLiREL":
        if cls._instance is None:
            cls._instance = cls()
        return cls._instance

    def __init__(self) -> None:
        _pin_blas_core()
        _pin_blas_threads()
        if blas_corename() != BLAS_CORE:
            warnings.warn(
                f"OpenBLAS runs kernel {blas_corename()}, not {BLAS_CORE}: "
                f"neural scores will not be bit-equal to the committed goldens",
                RuntimeWarning, stacklevel=2,
            )
        ckpt = os.environ.get("GLIREL_NUMPY_CHECKPOINT")
        z = np.load(ckpt) if ckpt else None
        # dimensions first (a real checkpoint re-shapes the model;
        # ADVICE r2: hardcoded dims must not block hidden-768 exports)
        if z is not None and "dims" in z.files:
            self.D, self.H = (int(x) for x in np.asarray(z["dims"]).ravel()[:2])
        else:
            self.D, self.H = D, H
        if self.D % 2:
            raise ValueError(f"scorer hidden D={self.D} must be even (BiLSTM concat)")
        self.HL = self.D // 2
        d, h, hl = self.D, self.H, self.HL
        self.pooling = SUBTOKEN_POOLING
        enc_dims = z["enc_dims"] if z is not None and "enc_dims" in z.files else None
        self.encoder = NumpyTransformer(_rng, enc_dims)

        # fixed seeded weights (the default "checkpoint")
        self.W_start = _rng("W_start").standard_normal((d, h)) / np.sqrt(d)
        self.W_end = _rng("W_end").standard_normal((d, h)) / np.sqrt(d)
        self.W_span = _rng("W_span").standard_normal((2 * h, h)) / np.sqrt(2 * h)
        self.W_pair = _rng("W_pair").standard_normal((2 * h, h)) / np.sqrt(2 * h)
        self.W_prompt1 = _rng("W_prompt1").standard_normal((d, 4 * h)) / np.sqrt(d)
        self.W_prompt2 = _rng("W_prompt2").standard_normal((4 * h, h)) / np.sqrt(4 * h)
        # T6 hidden-size projection (token_rep.py:54-57): present iff the
        # encoder's pooled width differs from the scorer width.
        emb_len = (2 if self.pooling == "first_last" else 1) * self.encoder.db
        if emb_len != d:
            self.W_proj = _rng("W_proj").standard_normal((emb_len, d)) / np.sqrt(emb_len)
            self.b_proj = np.zeros(d)
        else:
            self.W_proj = None
            self.b_proj = None
        # T8 BiLSTM (layers.py:9-30): gates in PyTorch (i, f, g, o) order
        for dr in ("fwd", "bwd"):
            setattr(self, f"lstm_{dr}_Wx",
                    _rng(f"lstm_{dr}_Wx").standard_normal((d, 4 * hl)) / np.sqrt(d))
            setattr(self, f"lstm_{dr}_Wh",
                    _rng(f"lstm_{dr}_Wh").standard_normal((hl, 4 * hl)) / np.sqrt(hl))
            setattr(self, f"lstm_{dr}_b", np.zeros(4 * hl))
        if z is not None:
            for name in z.files:  # override by name
                if name in ("dims", "enc_dims"):
                    continue
                arr = np.asarray(z[name], dtype=np.float64)
                if name.startswith("enc_"):
                    cur = self.encoder.params[name]  # unknown -> loud KeyError
                    if arr.shape != cur.shape:
                        raise ValueError(
                            f"checkpoint param {name}: shape {arr.shape} != {cur.shape}"
                        )
                    self.encoder.params[name] = arr
                    continue
                cur = getattr(self, name)  # unknown name -> loud AttributeError
                if cur is None or arr.shape != cur.shape:
                    raise ValueError(
                        f"checkpoint param {name}: shape {arr.shape} != "
                        f"{None if cur is None else cur.shape}"
                    )
                setattr(self, name, arr)
            z.close()
            self.encoder.invalidate_cache()  # derived tensors rebuild

    # --- T1-T7: prompt build + transformer encode + split -------------------

    def encode_doc(
        self, tokens: list[str], labels: tuple[str, ...]
    ) -> tuple[np.ndarray, np.ndarray]:
        """Build the label prompt, encode the full sequence, split.

        Returns (word_rep [n_tokens, D], rel_rep [C, D]):
        - prompt = [REL] label_1 [REL] label_2 ... [REL] label_C [SEP]
          (model.py:152-178; each label is ONE word-level token even when
          multi-word, token_rep.py:76-78)
        - word_rep = positions after the prompt (model.py:199)
        - rel_rep  = prompt positions without [SEP], strategy 'both' =
          mean of each ([REL]_i, label_i) pair (model.py:204-213)
        """
        prompt: list[str] = []
        for lab in labels:
            prompt.append("[REL]")
            prompt.append(lab)
        prompt.append("[SEP]")
        reps = self.encoder.embed_words(prompt + list(tokens), self.pooling)
        if self.W_proj is not None:
            reps = _mm(reps, self.W_proj) + self.b_proj
        lp = len(prompt)
        word_rep = reps[lp:]
        rel_rep = reps[: lp - 1].reshape(len(labels), 2, self.D).mean(axis=1)
        return word_rep, rel_rep

    def label_ffn(self, rel_rep: np.ndarray) -> np.ndarray:
        """T12 prompt FFN (model.py:75-80, 226): [C, D] -> [C, H]."""
        return _mm(np.maximum(_mm(rel_rep, self.W_prompt1), 0.0), self.W_prompt2)

    # --- T8 BiLSTM -----------------------------------------------------------

    def _lstm_dir(self, x: np.ndarray, Wx, Wh, b) -> np.ndarray:
        """One LSTM direction over a padded [B, T, D] batch -> [B, T, HL].

        The input projection is ONE einsum for the whole batch; the
        python loop runs over TIME only (T <= max_len), so the per-doc
        cost is a handful of [B, HL]-shaped vectorized steps. Rows
        evolve independently (the hidden matmul mixes hidden dims within
        a row, never across rows), so a doc's reps are bit-identical
        whether it is encoded alone or inside any batch — the property
        that lets gen_golden.py replay per-doc what the executors run
        batched."""
        hl = self.HL
        bsz, t_len, _ = x.shape
        xp = np.einsum("btd,dk->btk", x, Wx, optimize=False) + b
        h = np.zeros((bsz, hl))
        c = np.zeros((bsz, hl))
        out = np.zeros((bsz, t_len, hl))
        for t in range(t_len):
            g = xp[:, t] + np.einsum("bh,hk->bk", h, Wh, optimize=False)
            i = 1.0 / (1.0 + np.exp(-g[:, :hl]))
            f = 1.0 / (1.0 + np.exp(-g[:, hl:2 * hl]))
            gg = np.tanh(g[:, 2 * hl:3 * hl])
            o = 1.0 / (1.0 + np.exp(-g[:, 3 * hl:]))
            c = f * c + i * gg
            h = o * np.tanh(c)
            out[:, t] = h
        return out

    def encode_batch(self, embs: list[np.ndarray]) -> list[np.ndarray]:
        """T8 BiLSTM over a batch of per-doc [n_i, D] word-rep matrices
        -> per-doc [n_i, D] context reps (HL forward ⊕ HL backward).

        Forward runs on the zero-padded batch (causal: padding after a
        doc's length cannot reach its valid positions). Backward runs on
        each doc's OWN reversal (gathered per row), so padding never
        leaks into the recurrence there either.
        """
        d = self.D
        lens = np.array([len(e) for e in embs], dtype=np.int64)
        t_len = int(lens.max(initial=0))
        if t_len == 0:
            return [np.zeros((0, d)) for _ in embs]
        bsz = len(embs)
        x = np.zeros((bsz, t_len, d))
        for r, e in enumerate(embs):
            x[r, : len(e)] = e
        fwd = self._lstm_dir(x, self.lstm_fwd_Wx, self.lstm_fwd_Wh, self.lstm_fwd_b)
        # per-doc reversal: rev_x[r, t] = x[r, len_r-1-t] for t < len_r
        ar = np.arange(t_len)
        ridx = np.clip(lens[:, None] - 1 - ar[None, :], 0, None)
        valid = ar[None, :] < lens[:, None]
        rev_x = np.where(
            valid[:, :, None], np.take_along_axis(x, ridx[:, :, None], axis=1), 0.0
        )
        rev = self._lstm_dir(rev_x, self.lstm_bwd_Wx, self.lstm_bwd_Wh, self.lstm_bwd_b)
        # un-reverse by gathering: bwd[r, s] = rev[r, len_r-1-s]; positions
        # past len_r read garbage but are sliced off below.
        bwd = np.take_along_axis(rev, ridx[:, :, None], axis=1)
        full = np.concatenate([fwd, bwd], axis=2)
        return [full[r, : lens[r]] for r in range(bsz)]

    # --- span/pair reps (T9/T11) ---------------------------------------------

    def span_reps(self, token_reps: np.ndarray, spans: np.ndarray) -> np.ndarray:
        """markerv1: relu(FFN(start) ⊕ FFN(end)) -> project. spans [k,2]
        inclusive indices."""
        starts = _mm(token_reps[spans[:, 0]], self.W_start)
        ends = _mm(token_reps[spans[:, 1]], self.W_end)
        cat = np.maximum(np.concatenate([starts, ends], axis=1), 0.0)
        return _mm(cat, self.W_span)  # [k, H]

    @staticmethod
    def pair_indices(n: int, starts: np.ndarray,
                     max_distance: int | None) -> np.ndarray:
        """Row-major (i, j), i != j, |start_i - start_j| <= D — the exact
        ordering contract of generate_entity_pairs_indices
        (base.py:59-109, proven by test_rel_rep.py). np.argwhere scans in
        C (row-major) order, preserving the contract."""
        s = np.asarray(starts, dtype=np.int64)
        mask = ~np.eye(n, dtype=bool)
        if max_distance is not None:
            mask &= np.abs(s[:, None] - s[None, :]) <= max_distance
        return np.argwhere(mask).astype(np.int64)

    @staticmethod
    def valid_spans(spans: np.ndarray, n_tokens: int) -> np.ndarray:
        """P4 valid-span mask (base.py:222-227): drop spans whose end
        exceeds the (possibly truncated) sequence. Callers that map the
        returned pair indices back to span rows MUST apply this filter
        themselves first — score_doc scores the filtered array."""
        if len(spans):
            return spans[spans[:, 1] <= n_tokens - 1]
        return spans

    def score_doc(
        self,
        tokens: list[str],
        spans: np.ndarray,
        labels: tuple[str, ...],
        max_distance: int | None,
        tok_reps: np.ndarray | None = None,
        lab_reps: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Returns (pairs [P,2] span-list indices, probs [P, C]).

        Pair indices refer to the VALID (P4-filtered) span array, i.e.
        ``valid_spans(spans, len(tokens))`` — identical to ``spans`` when
        every span lies within the sequence.

        ``tok_reps`` (post-BiLSTM word context, [n, D]) and ``lab_reps``
        (post-FFN label reps, [C, H]) may be precomputed by the batched
        UDF path — they must be passed TOGETHER because both come out of
        the same per-document transformer forward (label reps are
        document-contextual)."""
        if (tok_reps is None) != (lab_reps is None):
            raise ValueError("tok_reps and lab_reps must be passed together")
        spans = self.valid_spans(spans, len(tokens))
        if tok_reps is None:
            word_rep, rel_rep = self.encode_doc(list(tokens), labels)
            tok_reps = self.encode_batch([word_rep])[0]
            lab_reps = self.label_ffn(rel_rep)
        sreps = self.span_reps(tok_reps, spans)  # [k, H]
        pidx = self.pair_indices(len(spans), spans[:, 0], max_distance)
        if len(pidx) == 0:
            return pidx, np.zeros((0, len(labels)))
        pair = np.concatenate([sreps[pidx[:, 0]], sreps[pidx[:, 1]]], axis=1)
        prep = np.maximum(pair, 0.0)
        prep = _mm(prep, self.W_pair)  # [P, H]
        logits = _mm(prep, lab_reps.T)  # T13 einsum('BKD,BCD->BKC') per doc
        probs = 1.0 / (1.0 + np.exp(-logits))
        return pidx, probs
