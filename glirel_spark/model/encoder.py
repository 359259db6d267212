"""T2-T6: the transformer token encoder, as a REAL numpy forward pass.

This replaces the round-1/2 seeded per-token embedding stand-in with the
actual architecture the reference runs (a DeBERTa-style encoder,
configs/config_wiki_zsl.yaml:24-27: deberta-v3, subtoken_pooling
'first'):

  T2  subword tokenization with word_ids alignment
      (transformer_embeddings.py:139-170; here a deterministic
      SentencePiece-style stand-in tokenizer whose VOCABULARY is the
      only synthetic part — the forward math is real)
  T3  transformer forward: embedding lookup -> LayerNorm -> L layers of
      disentangled attention (content-to-content + content-to-position +
      position-to-content with shared relative-position embeddings, the
      public DeBERTa formulation, He et al. 2020) -> softmax -> residual
      + LayerNorm -> GELU FFN -> residual + LayerNorm
  T4  subtoken pooling 'first'/'last'/'mean'/'first_last' with the
      reference's exact edge cases (transformer_embeddings.py:6-81):
      zero-fill for tokens the tokenizer vanished (e.g. '\\n ' merged
      away by the DeBERTa tokenizer, test_transformer_embeddings.py:
      226-244), full-row word-id membership when deciding inserts
  T5  special-token vocabulary add + embedding resize
      (token_rep.py:42-52: [FLERT] + add_tokens; '[SEP]' already in the
      vocab so adding it is a no-op and the prompt word '[SEP]' maps to
      the existing separator id)
  T6  hidden-size projection when the scorer width differs from the
      encoder width (token_rep.py:54-57) — applied by the scorer

Every parameter is npz-loadable via ``GLIREL_NUMPY_CHECKPOINT`` under
``enc_*`` names (see ``param_names()``), and the DIMENSIONS themselves
are loadable via an ``enc_dims`` vector, so a real exported checkpoint
(hidden 768, 24 layers) instantiates this same code — only the default
seeded init keeps the double small and golden-checkable.

Every contraction is a per-sequence ``@`` (OpenBLAS): a matrix's shape
depends on its document alone, and ``DeterministicGLiREL`` pins OpenBLAS
to one thread and to the declared kernel ``scorer.BLAS_CORE`` at run
time, so a document's bits are the same whether it is encoded alone
(golden replay) or inside any Arrow batch (executors), and equal the
committed goldens. A CPU without that kernel's AVX-512 instructions
runs another kernel, whose low bits differ; the model warns then.
"""

from __future__ import annotations

import hashlib

import numpy as np

# --------------------------------------------------------------------------
# default double dimensions (overridable via npz `enc_dims`)
# --------------------------------------------------------------------------
ENC_VOCAB = 2048
ENC_DB = 48       # encoder hidden width (!= scorer D=32 -> T6 projection runs)
ENC_LAYERS = 2
ENC_HEADS = 2
ENC_FFN = 96
ENC_RELK = 8      # relative positions clipped to [-K, K]

_LN_EPS = 1e-7    # DeBERTa layer_norm_eps

# --------------------------------------------------------------------------
# T2/T5: deterministic SentencePiece-style subword tokenizer
# --------------------------------------------------------------------------
# id layout mirrors a real tokenizer + add_tokens/resize
# (token_rep.py:42-52): fixed sequence specials, then ADDED tokens,
# then the hashed subword-piece space.
PAD_ID, CLS_ID, SEP_ID = 0, 1, 2
ADDED_TOKENS = {"[FLERT]": 3, "[REL]": 4, "[E]": 5, "[/E]": 6}
# '[SEP]' used as a prompt WORD resolves to the existing separator id —
# tokenizer.add_tokens(['[SEP]']) is a no-op because it is already in the
# vocabulary (token_rep.py:47-49).
_WORD_SPECIALS = dict(ADDED_TOKENS, **{"[SEP]": SEP_ID})
_N_RESERVED = 16
_PIECE_CHARS = 4  # greedy chunk width of the stand-in subword model


def _piece_id(piece: str, vocab: int) -> int:
    h = hashlib.blake2b(f"piece:{piece}".encode(), digest_size=8).digest()
    return _N_RESERVED + int.from_bytes(h, "little") % (vocab - _N_RESERVED)


def word_pieces(word: str) -> list[str]:
    """Subword pieces for one word-level token (stand-in subword model).

    Whitespace-only words (e.g. '\\n ') produce ZERO pieces — the DeBERTa
    tokenizer merges/removes newline characters, which is exactly the
    vanished-token alignment case the reference's pooling must zero-fill
    (test_transformer_embeddings.py:226-244). Multi-word strings (the
    prompt appends each relation label as ONE word-level token, e.g.
    "doctoral advisor" — token_rep.py:76-78) split at internal spaces
    into word-start-marked pieces, like SentencePiece would.
    """
    pieces: list[str] = []
    for sw in word.split():
        for j in range(0, len(sw), _PIECE_CHARS):
            marker = "▁" if j == 0 else ""
            pieces.append(marker + sw[j : j + _PIECE_CHARS])
    return pieces


class UnigramVocab:
    """A REAL SentencePiece-unigram tokenizer over an exported
    vocabulary file — the pluggable path that makes real-checkpoint
    parity a (weights file + vocab file) problem, with no tokenizer
    code left to write.

    File format (tools/export_tokenizer.py writes it from a HF
    tokenizer on a machine with `transformers`): JSON
    ``{"pieces": {piece: [id, score]}, "unk_id": int}`` where scores
    are the sentencepiece unigram log-probs. Segmentation is the
    standard unigram Viterbi (max sum of piece scores over all
    segmentations of ``▁word``); characters not reachable through the
    vocabulary emit ``unk_id``. Deterministic ties: the LONGER piece
    wins (equal-score shorter pieces never displace it — `>` not `>=`
    on candidate relaxation, matching sentencepiece's preference for
    fewer pieces at equal score).
    """

    def __init__(self, pieces: dict[str, tuple[int, float]], unk_id: int) -> None:
        self.pieces = {p: (int(i), float(s)) for p, (i, s) in pieces.items()}
        self.unk_id = int(unk_id)
        self.max_len = max((len(p) for p in self.pieces), default=1)
        self._memo: dict[str, list[int]] = {}

    @classmethod
    def load(cls, path: str) -> "UnigramVocab":
        import json

        with open(path) as f:
            d = json.load(f)
        return cls({p: tuple(v) for p, v in d["pieces"].items()}, d["unk_id"])

    def segment(self, word: str) -> list[int]:
        """ids for one word-level token (word-start ▁ prepended).
        Memoized per word (corpora repeat words heavily)."""
        cached = self._memo.get(word)
        if cached is not None:
            return cached
        s = "▁" + word
        n = len(s)
        NEG = float("-inf")
        best = [NEG] * (n + 1)
        back: list[tuple[int, int] | None] = [None] * (n + 1)
        best[0] = 0.0
        for i in range(n):
            if best[i] == NEG:
                continue
            matched = False
            for j in range(i + 1, min(n, i + self.max_len) + 1):
                hit = self.pieces.get(s[i:j])
                if hit is None:
                    continue
                matched = True
                cand = best[i] + hit[1]
                if cand > best[j]:
                    best[j] = cand
                    back[j] = (i, hit[0])
            if not matched:
                # unk fallback: consume one char (sentencepiece byte/char
                # fallback collapses to <unk> without byte pieces)
                cand = best[i] - 100.0
                if cand > best[i + 1]:
                    best[i + 1] = cand
                    back[i + 1] = (i, self.unk_id)
        ids: list[int] = []
        j = n
        while j > 0:
            i, pid = back[j]  # type: ignore[misc]
            ids.append(pid)
            j = i
        ids.reverse()
        self._memo[word] = ids
        return ids


_UNIGRAM_CACHE: dict[str, UnigramVocab] = {}
_STANDIN_MEMO: dict[tuple[int, str], list[int]] = {}  # (vocab, word) -> piece ids


def _active_unigram() -> UnigramVocab | None:
    """The real unigram vocabulary, if ``GLIREL_TOKENIZER_VOCAB`` names
    an exported file; parsed once per process per path."""
    import os

    path = os.environ.get("GLIREL_TOKENIZER_VOCAB")
    if not path:
        return None
    v = _UNIGRAM_CACHE.get(path)
    if v is None:
        v = _UNIGRAM_CACHE[path] = UnigramVocab.load(path)
    return v


def encode_words(words: list[str], vocab: int = ENC_VOCAB):
    """words -> (ids[int64 T], word_ids[int64 T]) with -100 for specials.

    Sequence layout is the HF fast-tokenizer contract the reference
    consumes (transformer_embeddings.py:139-170): [CLS] pieces... [SEP],
    word_ids None (-100) at the specials, the word index at every piece.
    Added tokens ([REL], [E], ...) are single dedicated ids (T5).
    """
    uni = _active_unigram()
    ids = [CLS_ID]
    word_ids = [-100]
    for wi, w in enumerate(words):
        special = _WORD_SPECIALS.get(w)
        if special is not None:
            ids.append(special)
            word_ids.append(wi)
            continue
        if uni is not None:
            # real unigram-Viterbi segmentation (exported vocabulary;
            # ids must lie under enc_dims' vocab — the exporter checks)
            for sw in w.split():
                for pid in uni.segment(sw):
                    ids.append(pid)
                    word_ids.append(wi)
            continue
        key = (vocab, w)
        cached = _STANDIN_MEMO.get(key)
        if cached is None:
            cached = [_piece_id(p, vocab) for p in word_pieces(w)]
            _STANDIN_MEMO[key] = cached
        for pid in cached:
            ids.append(pid)
            word_ids.append(wi)
    ids.append(SEP_ID)
    word_ids.append(-100)
    return np.asarray(ids, dtype=np.int64), np.asarray(word_ids, dtype=np.int64)


# --------------------------------------------------------------------------
# T4: subtoken pooling — numpy transliteration of the reference's exact
# semantics (transformer_embeddings.py:6-81), golden-tested against the
# reference's own unit expectations (tests/test_encoder.py).
# --------------------------------------------------------------------------

def insert_missing_embeddings(
    token_embeddings: np.ndarray, word_ids_i: np.ndarray, length_i: int
) -> np.ndarray:
    """Zero-fill word positions the tokenizer produced no subtoken for
    (transformer_embeddings.py:19-41). ``word_ids_i`` is the FULL
    subtoken row — membership is checked against every subtoken of the
    word, not only the masked ones, exactly as the reference does."""
    length_i = int(length_i)
    if token_embeddings.shape[0] == 0:
        return np.zeros((length_i, token_embeddings.shape[-1]),
                        dtype=token_embeddings.dtype)
    if token_embeddings.shape[0] < length_i:
        for idx in range(length_i):
            if not (word_ids_i == idx).any():
                zero = np.zeros_like(token_embeddings[:1])
                token_embeddings = np.concatenate(
                    (token_embeddings[:idx], zero, token_embeddings[idx:]), axis=0
                )
    return token_embeddings


def fill_masked_elements(
    all_token_embeddings: np.ndarray,
    hidden_states: np.ndarray,
    mask: np.ndarray,
    word_ids: np.ndarray,
    lengths: np.ndarray,
) -> np.ndarray:
    """'first'/'last' pooling gather (transformer_embeddings.py:6-16)."""
    for i in range(all_token_embeddings.shape[0]):
        keep = hidden_states[i][mask[i] & (word_ids[i] >= 0)]
        replaced = insert_missing_embeddings(keep, word_ids[i], lengths[i])
        all_token_embeddings[i, : int(lengths[i]), :] = replaced
    return all_token_embeddings


def fill_mean_token_embeddings(
    all_token_embeddings: np.ndarray,
    hidden_states: np.ndarray,
    word_ids: np.ndarray,
    token_lengths: np.ndarray,
) -> np.ndarray:
    """'mean' pooling scatter-add (transformer_embeddings.py:44-81)."""
    bsz, max_tokens, _ = all_token_embeddings.shape
    mask = word_ids >= 0
    idx = np.clip(word_ids, 0, None)
    src = hidden_states * mask[..., None]
    counts = np.zeros((bsz, max_tokens), dtype=all_token_embeddings.dtype)
    for i in range(bsz):
        np.add.at(all_token_embeddings[i], idx[i], src[i])
        np.add.at(counts[i], idx[i], mask[i].astype(all_token_embeddings.dtype))
    safe = np.where(counts > 0, counts, 1.0)
    out = np.where(
        counts[..., None] > 0, all_token_embeddings / safe[..., None], 0.0
    )
    valid = np.arange(max_tokens)[None, :] < np.asarray(token_lengths)[:, None]
    return out * valid[..., None]


def _pool(hidden: np.ndarray, word_ids: np.ndarray, n_words: int,
          pooling: str) -> np.ndarray:
    """[T, DB] subtoken hidden states -> [n_words, emb_len] word reps,
    via the batch-of-1 reference pooling path
    (transformer_embeddings.py:187-228)."""
    db = hidden.shape[-1]
    h = hidden[None]                       # [1, T, DB]
    w = word_ids[None]                     # [1, T]
    lengths = np.asarray([n_words])
    true_col = np.ones((1, 1), dtype=bool)
    gain = w[:, 1:] != w[:, :-1]
    if pooling == "first":
        out = np.zeros((1, n_words, db))
        m = np.concatenate([true_col, gain], axis=1)
        out = fill_masked_elements(out, h, m, w, lengths)
    elif pooling == "last":
        out = np.zeros((1, n_words, db))
        m = np.concatenate([gain, true_col], axis=1)
        out = fill_masked_elements(out, h, m, w, lengths)
    elif pooling == "first_last":
        out = np.zeros((1, n_words, 2 * db))
        first = np.concatenate([true_col, gain], axis=1)
        last = np.concatenate([gain, true_col], axis=1)
        out[:, :, :db] = fill_masked_elements(out[:, :, :db], h, first, w, lengths)
        out[:, :, db:] = fill_masked_elements(out[:, :, db:], h, last, w, lengths)
    elif pooling == "mean":
        out = np.zeros((1, n_words, db))
        out = fill_mean_token_embeddings(out, h, w, lengths)
    else:
        raise ValueError(f"Unknown subtoken_pooling={pooling}")
    return out[0]


# --------------------------------------------------------------------------
# T3: the transformer forward
# --------------------------------------------------------------------------

def _ln(x: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    mu = x.mean(axis=-1, keepdims=True)
    var = ((x - mu) ** 2).mean(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + _LN_EPS) * g + b


def _gelu(x: np.ndarray) -> np.ndarray:
    # tanh approximation (deterministic, no erf dependency)
    return 0.5 * x * (1.0 + np.tanh(0.7978845608028654 * (x + 0.044715 * x * x * x)))


class NumpyTransformer:
    """A DeBERTa-style encoder in plain numpy, per-sequence.

    Per-SEQUENCE (not per-batch) on purpose: every matmul's shape then
    depends on the document alone, so with OpenBLAS pinned to one
    thread each result is bit-identical whether a document is encoded
    alone (golden generator) or inside any Arrow batch (executors) —
    the property the golden gate depends on. (Stacking rows of several
    documents into one BLAS call does NOT keep the bits.) Sequences
    here are short (prompt + document <= ~150 subtokens), so the T^2
    attention is microseconds and the python loop over layers is
    negligible.
    """

    def __init__(self, rng_factory, dims: np.ndarray | None = None) -> None:
        if dims is not None:
            v, db, nl, nh, ff, rk = (int(x) for x in np.asarray(dims).ravel())
        else:
            v, db, nl, nh, ff, rk = (
                ENC_VOCAB, ENC_DB, ENC_LAYERS, ENC_HEADS, ENC_FFN, ENC_RELK
            )
        if db % nh:
            raise ValueError(f"enc hidden {db} not divisible by heads {nh}")
        self.vocab, self.db, self.layers = v, db, nl
        self.heads, self.ffn, self.relk = nh, ff, rk
        self.dh = db // nh
        p: dict[str, np.ndarray] = {}

        def init(name: str, shape: tuple, scale: float) -> None:
            p[name] = rng_factory(name).standard_normal(shape) * scale

        init("enc_emb", (v, db), 1.0 / np.sqrt(db))
        p["enc_ln_emb_g"] = np.ones(db)
        p["enc_ln_emb_b"] = np.zeros(db)
        init("enc_P", (2 * rk + 1, db), 1.0 / np.sqrt(db))
        for li in range(nl):
            for nm in ("Wq", "Wk", "Wv", "Wo"):
                init(f"enc_l{li}_{nm}", (db, db), 1.0 / np.sqrt(db))
                p[f"enc_l{li}_{nm[0].lower()}{nm[1].lower()}b"] = np.zeros(db)
            init(f"enc_l{li}_W1", (db, ff), 1.0 / np.sqrt(db))
            p[f"enc_l{li}_b1"] = np.zeros(ff)
            init(f"enc_l{li}_W2", (ff, db), 1.0 / np.sqrt(ff))
            p[f"enc_l{li}_b2"] = np.zeros(db)
            for nm in ("ln1", "ln2"):
                p[f"enc_l{li}_{nm}_g"] = np.ones(db)
                p[f"enc_l{li}_{nm}_b"] = np.zeros(db)
        self.params = p
        self._layer_cache: dict[int, tuple] = {}

    def param_names(self) -> list[str]:
        return sorted(self.params)

    def invalidate_cache(self) -> None:
        """Call after mutating ``params`` (checkpoint load): drops the
        derived per-layer tensors below."""
        self._layer_cache.clear()

    def _layer(self, li: int) -> tuple:
        """Derived per-layer tensors, built once per process:
        - fused [DB, 3DB] QKV weight/bias — ONE input matmul instead of
          three
        - the relative-position key/query projections pk/pq, which are
          INPUT-INDEPENDENT (P is a parameter) and were previously
          recomputed per document
        """
        c = self._layer_cache.get(li)
        if c is None:
            p = self.params
            pre = f"enc_l{li}_"
            w_qkv = np.concatenate(
                [p[pre + "Wq"], p[pre + "Wk"], p[pre + "Wv"]], axis=1
            )
            b_qkv = np.concatenate(
                [p[pre + "wqb"], p[pre + "wkb"], p[pre + "wvb"]]
            )
            pk = self._heads(p["enc_P"] @ p[pre + "Wk"] + p[pre + "wkb"])
            pq = self._heads(p["enc_P"] @ p[pre + "Wq"] + p[pre + "wqb"])
            c = (w_qkv, b_qkv, pk, pq)
            self._layer_cache[li] = c
        return c

    def _heads(self, x: np.ndarray) -> np.ndarray:
        t = x.shape[0]
        return x.reshape(t, self.heads, self.dh).transpose(1, 0, 2)

    def forward(self, ids: np.ndarray) -> np.ndarray:
        """[T] subtoken ids -> [T, DB] last hidden states."""
        p = self.params
        x = _ln(p["enc_emb"][ids], p["enc_ln_emb_g"], p["enc_ln_emb_b"])
        t = len(ids)
        pos = np.arange(t)
        rel = np.clip(pos[:, None] - pos[None, :], -self.relk, self.relk) + self.relk
        # rel as a flat index into each head's [T, 2*relk+1] rows: one take per gather
        flat = pos[:, None] * (2 * self.relk + 1) + rel
        scale = 1.0 / np.sqrt(3.0 * self.dh)  # DeBERTa: 3 score terms
        for li in range(self.layers):
            pre = f"enc_l{li}_"
            # shared relative-position embeddings through the SAME
            # key/query projections (DeBERTa-v2 position sharing);
            # fused QKV + cached pk/pq from _layer()
            w_qkv, b_qkv, pk, pq = self._layer(li)
            qkv = x @ w_qkv + b_qkv
            db = self.db
            qh = self._heads(qkv[:, :db])
            kh = self._heads(qkv[:, db:2 * db])
            vh = self._heads(qkv[:, 2 * db:])
            c2c = qh @ kh.transpose(0, 2, 1)
            # gather the bucketed scores: c2p[h,t,s] = <q_t, P_k[rel(t,s)]>,
            # p2c[h,t,s] = <k_s, P_q[rel(s,t)]> (note the reversed relative
            # direction on the position-to-content term, as in DeBERTa)
            c2p_all = qh @ pk.transpose(0, 2, 1)
            c2p = c2p_all.reshape(self.heads, -1).take(flat, axis=1)  # [h, T, T]
            p2c_all = kh @ pq.transpose(0, 2, 1)
            p2c = p2c_all.reshape(self.heads, -1).take(flat, axis=1).transpose(0, 2, 1)
            scores = (c2c + c2p + p2c) * scale
            scores -= scores.max(axis=-1, keepdims=True)
            e = np.exp(scores)
            att = e / e.sum(axis=-1, keepdims=True)
            ctx = att @ vh
            ctx = ctx.transpose(1, 0, 2).reshape(t, self.db)
            ctx = ctx @ p[pre + "Wo"] + p[pre + "wob"]
            x = _ln(x + ctx, p[pre + "ln1_g"], p[pre + "ln1_b"])
            f = _gelu(x @ p[pre + "W1"] + p[pre + "b1"]) @ p[pre + "W2"] + p[pre + "b2"]
            x = _ln(x + f, p[pre + "ln2_g"], p[pre + "ln2_b"])
        return x

    def embed_words(self, words: list[str], pooling: str = "first") -> np.ndarray:
        """The full T2-T4 path: tokenize -> forward -> pool.
        Returns [len(words), emb_len] (emb_len = 2*DB for 'first_last')."""
        if not words:
            width = 2 * self.db if pooling == "first_last" else self.db
            return np.zeros((0, width))
        ids, word_ids = encode_words(words, self.vocab)
        hidden = self.forward(ids)
        return _pool(hidden, word_ids, len(words), pooling)
