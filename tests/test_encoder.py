"""T2-T6 transformer encoder goldens.

The pooling tests transliterate the reference's own unit expectations
(glirel/modules/test_transformer_embeddings.py:13-131) into numpy: same
inputs, same expected outputs, run against this engine's
transliterations. The alignment tests replay the newline-vanishing edge
case (test_transformer_embeddings.py:226-244) and the custom-token
vocabulary add (test_transformer_embeddings.py:194-224 /
token_rep.py:42-52)."""

from __future__ import annotations

import numpy as np
import pytest

from glirel_spark.model import encoder as E
from glirel_spark.model.scorer import DeterministicGLiREL


# --- transliterated reference unit tests ----------------------------------

def test_insert_missing_embeddings_empty():
    # reference test_transformer_embeddings.py:13-22
    dummy = np.zeros((0, 10))
    word_ids_i = np.array([0, 1, 2])
    out = E.insert_missing_embeddings(dummy, word_ids_i, 3)
    assert out.shape == (3, 10)
    assert (out == 0).all()


def test_insert_missing_embeddings_partial():
    # reference test_transformer_embeddings.py:25-36: token idx 1 never
    # appears -> zero row inserted at position 1
    rng = np.random.default_rng(0)
    dummy = rng.random((2, 4))
    word_ids_i = np.array([0, 2, 2])
    out = E.insert_missing_embeddings(dummy, word_ids_i, 3)
    assert out.shape == (3, 4)
    assert (out[1] == 0).all()
    assert np.array_equal(out[0], dummy[0])


def test_fill_masked_elements():
    # reference test_transformer_embeddings.py:39-70
    rng = np.random.default_rng(1)
    hidden_states = rng.random((2, 5, 4))
    word_ids = np.array([[0, 0, 1, 2, 2], [0, 1, 1, 1, -100]])
    lengths = np.array([3, 3])
    mask = np.zeros((2, 5), dtype=bool)
    mask[0, [0, 2, 3]] = True
    mask[1, [0, 1]] = True
    out = E.fill_masked_elements(
        np.zeros((2, 3, 4)), hidden_states, mask, word_ids, lengths
    )
    assert out.shape == (2, 3, 4)
    # row 0: first subtokens of words 0,1,2 are positions 0,2,3
    assert np.array_equal(out[0], hidden_states[0][[0, 2, 3]])


def test_fill_mean_token_embeddings():
    # reference test_transformer_embeddings.py:73-131 — exact expected
    # values, including the ignored -1 subwords and the beyond-length
    # zero row
    hidden_states = np.array([
        [[1.0, 1.0], [2.0, 2.0], [3.0, 3.0], [4.0, 4.0], [5.0, 5.0]],
        [[10.0, 10.0], [20.0, 20.0], [30.0, 30.0], [40.0, 40.0], [50.0, 50.0]],
    ])
    word_ids = np.array([[0, 0, 1, 2, -1], [0, 1, 1, -1, -1]])
    token_lengths = np.array([3, 2])
    out = E.fill_mean_token_embeddings(
        np.zeros((2, 3, 2)), hidden_states, word_ids, token_lengths
    )
    expected = np.array([
        [[1.5, 1.5], [3.0, 3.0], [4.0, 4.0]],
        [[10.0, 10.0], [25.0, 25.0], [0.0, 0.0]],
    ])
    assert np.allclose(out, expected)


# --- tokenizer alignment ---------------------------------------------------

def test_newline_words_vanish_and_zero_fill():
    """The DeBERTa tokenizer merges/removes newline tokens; pooling must
    still emit one (zero) rep per word so span indices stay aligned
    (test_transformer_embeddings.py:226-244)."""
    words = ["alpha", "\n ", "beta", "\n", "gamma"]
    assert E.word_pieces("\n ") == []
    m = DeterministicGLiREL()
    reps = m.encoder.embed_words(words, "first")
    assert reps.shape == (5, m.encoder.db)
    assert (reps[1] == 0).all() and (reps[3] == 0).all()
    assert not (reps[0] == 0).all() and not (reps[4] == 0).all()


def test_multiword_label_is_one_word_position():
    """The prompt appends each relation label as ONE word-level token
    ('doctoral advisor', token_rep.py:76-78): its pieces share a word id
    and pool to a single rep row."""
    ids, wids = E.encode_words(["[REL]", "doctoral advisor", "[SEP]"])
    assert wids[0] == -100 and wids[-1] == -100  # [CLS]/[SEP] specials
    assert (wids[1:-1] >= 0).all()
    # label pieces all map to word 1
    assert set(wids[2:-2].tolist()) == {1}
    m = DeterministicGLiREL()
    reps = m.encoder.embed_words(["[REL]", "doctoral advisor", "[SEP]"])
    assert reps.shape[0] == 3


def test_added_tokens_are_single_dedicated_ids():
    # token_rep.py:42-52: [FLERT]/[REL]/[E]/[/E] resize the vocab;
    # '[SEP]' is already present so it maps to the existing separator id
    ids, wids = E.encode_words(["[REL]", "[E]", "[/E]", "[SEP]", "[FLERT]"])
    assert ids[1] == E.ADDED_TOKENS["[REL]"]
    assert ids[2] == E.ADDED_TOKENS["[E]"]
    assert ids[3] == E.ADDED_TOKENS["[/E]"]
    assert ids[4] == E.SEP_ID
    assert ids[5] == E.ADDED_TOKENS["[FLERT]"]


@pytest.mark.parametrize("pooling", ["first", "last", "mean", "first_last"])
def test_pooling_shapes(pooling):
    # reference test_transformer_embeddings.py:134-153
    m = DeterministicGLiREL()
    width = 2 * m.encoder.db if pooling == "first_last" else m.encoder.db
    for words in (["Hello", "world!"], ["Subtoken", "test", "here"]):
        reps = m.encoder.embed_words(words, pooling)
        assert reps.shape == (len(words), width)
        assert np.isfinite(reps).all()


# --- forward determinism + contextuality -----------------------------------

def test_forward_is_deterministic_across_instances():
    a, b = DeterministicGLiREL(), DeterministicGLiREL()
    words = ["spark", "feeds", "the", "table"]
    ra = a.encoder.embed_words(words)
    rb = b.encoder.embed_words(words)
    assert np.array_equal(ra, rb)


def test_attention_is_contextual():
    """The same word must get DIFFERENT reps in different sentences —
    the property the seeded per-token embedding stand-in lacked."""
    m = DeterministicGLiREL()
    r1 = m.encoder.embed_words(["spark", "feeds", "table"])
    r2 = m.encoder.embed_words(["spark", "joins", "stream"])
    assert not np.allclose(r1[0], r2[0])


def test_prompt_split_contract():
    """encode_doc returns exactly n_tokens word reps and C label reps,
    label reps = mean of each ([REL], label) pair (model.py:204-213)."""
    m = DeterministicGLiREL()
    toks = ["spark", "feeds", "the", "table"]
    labels = ("feeds", "used by")
    word_rep, rel_rep = m.encode_doc(toks, labels)
    assert word_rep.shape == (4, m.D)
    assert rel_rep.shape == (2, m.D)
    # 'both' strategy: manual replay over the same full-sequence encode
    prompt = ["[REL]", "feeds", "[REL]", "used by", "[SEP]"]
    full = m.encoder.embed_words(prompt + toks, m.pooling)
    if m.W_proj is not None:
        full = full @ m.W_proj + m.b_proj  # the T6 projection's own kernel
    manual = full[:4].reshape(2, 2, m.D).mean(axis=1)
    assert np.array_equal(rel_rep, manual)


def test_projection_runs_when_widths_differ():
    # T6 (token_rep.py:54-57): double encodes at 48, scorer width 32
    m = DeterministicGLiREL()
    assert m.encoder.db != m.D
    assert m.W_proj is not None and m.W_proj.shape == (m.encoder.db, m.D)


def test_encoder_checkpoint_dims_reconfigure(tmp_path, monkeypatch):
    """A real checkpoint re-shapes the model: enc_dims + dims vectors
    change every parameter shape before loading (ADVICE r2: hidden-768
    exports must not hit hardcoded-dim walls)."""
    path = tmp_path / "ckpt.npz"
    np.savez(
        path,
        dims=np.array([16, 16]),
        enc_dims=np.array([512, 24, 1, 2, 48, 4]),
    )
    monkeypatch.setenv("GLIREL_NUMPY_CHECKPOINT", str(path))
    m = DeterministicGLiREL()
    assert m.D == 16 and m.encoder.db == 24 and m.encoder.layers == 1
    assert m.encoder.params["enc_emb"].shape == (512, 24)
    assert m.W_proj.shape == (24, 16)
    toks = ["spark", "feeds", "table"]
    pidx, probs = m.score_doc(
        toks, np.array([[0, 0], [2, 2]]), ("feeds",), None
    )
    assert probs.shape == (2, 1)
    monkeypatch.delenv("GLIREL_NUMPY_CHECKPOINT")


def test_full_nonseeded_checkpoint_roundtrip(tmp_path, monkeypatch):
    """The complete weights plane: EVERY parameter (transformer,
    projection, BiLSTM, heads) loaded from a non-seeded npz, consumed
    end-to-end by score_doc — the real-checkpoint path minus only the
    torch export itself (tools/export_weights.py docstring)."""
    base = DeterministicGLiREL()
    rng = np.random.default_rng(7)
    out = {}
    for name, arr in base.encoder.params.items():
        out[name] = arr + rng.standard_normal(arr.shape) * 0.01
    for name in (
        "W_start", "W_end", "W_span", "W_pair", "W_prompt1", "W_prompt2",
        "W_proj", "b_proj", "lstm_fwd_Wx", "lstm_fwd_Wh", "lstm_fwd_b",
        "lstm_bwd_Wx", "lstm_bwd_Wh", "lstm_bwd_b",
    ):
        arr = getattr(base, name)
        out[name] = arr + rng.standard_normal(arr.shape) * 0.01
    path = tmp_path / "full.npz"
    np.savez(path, **out)
    monkeypatch.setenv("GLIREL_NUMPY_CHECKPOINT", str(path))
    m = DeterministicGLiREL()
    assert np.array_equal(m.encoder.params["enc_emb"], out["enc_emb"])
    assert np.array_equal(m.W_proj, out["W_proj"])
    toks = "spark feeds the table scan near customer".split()
    spans = np.array([[0, 0], [3, 3], [6, 6]])
    labels = ("feeds", "used by")
    _, p_loaded = m.score_doc(toks, spans, labels, 8)
    _, p_seeded = base.score_doc(toks, spans, labels, 8)
    assert p_loaded.shape == p_seeded.shape
    assert not np.allclose(p_loaded, p_seeded)  # the weights actually flow
    # and the loaded model is itself deterministic across instances
    m2 = DeterministicGLiREL()
    _, p2 = m2.score_doc(toks, spans, labels, 8)
    assert np.array_equal(p_loaded, p2)
    monkeypatch.delenv("GLIREL_NUMPY_CHECKPOINT")


def test_export_cli_accepts_both_map_forms(monkeypatch):
    """ADVICE r2: the docstring's `--map KEY=TORCH_NAME` form must parse
    (and `--map=KEY=TORCH_NAME` stays accepted)."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    import export_weights

    captured = {}

    def fake_export(src, dest, maps, heads=12):
        captured.update(src=src, dest=dest, maps=maps, heads=heads)

    monkeypatch.setattr(export_weights, "export", fake_export)
    monkeypatch.setattr(
        sys, "argv",
        ["export_weights.py", "in.bin", "out.npz",
         "--map", "W_pair=rel_rep_layer.out_project.weight",
         "--map=W_span=span_rep_layer.project.weight", "--heads", "16"],
    )
    export_weights.main()
    assert captured["maps"] == {
        "W_pair": "rel_rep_layer.out_project.weight",
        "W_span": "span_rep_layer.project.weight",
    }
    assert captured["heads"] == 16 and captured["src"] == "in.bin"


def test_unigram_viterbi_segmentation(tmp_path, monkeypatch):
    """The pluggable real-tokenizer path: unigram Viterbi picks the
    max-score segmentation from an exported vocabulary; unknown
    characters fall back to unk_id; the hashed stand-in is untouched
    when the env var is absent."""
    import json

    vocab = {
        "pieces": {
            "▁hel": [10, -2.0], "lo": [11, -2.0],
            "▁hello": [12, -3.5],        # worse than ▁hel+lo (-4.0)? no: -3.5 > -4.0 -> wins
            "▁h": [13, -1.0], "e": [14, -1.0], "l": [15, -1.0], "o": [16, -1.0],
            "▁wor": [17, -1.5], "ld": [18, -1.5],
        },
        "unk_id": 3,
    }
    path = tmp_path / "vocab.json"
    path.write_text(json.dumps(vocab))
    monkeypatch.setenv("GLIREL_TOKENIZER_VOCAB", str(path))
    ids, wids = E.encode_words(["hello", "world", "q#"])
    body = ids[1:-1].tolist()
    # hello: single piece -3.5 beats ▁hel+lo (-4.0) and char path (-5.0)
    assert body[:1] == [12]
    # world: ▁wor + ld
    assert body[1:3] == [17, 18]
    # q#: '▁q' unreachable -> unk per char ('▁','q' consumed as unks), '#' unk
    assert all(i == 3 for i in body[3:])
    assert wids[1] == 0 and wids[2] == 1 and wids[3] == 1
    monkeypatch.delenv("GLIREL_TOKENIZER_VOCAB")
    # stand-in path restored
    ids2, _ = E.encode_words(["hello"])
    assert ids2[1] >= E._N_RESERVED


def test_unigram_end_to_end_through_scorer(tmp_path, monkeypatch):
    """A vocab file + the seeded weights run the whole scoring plane —
    real-checkpoint parity is (weights.npz + vocab.json), nothing else."""
    import json

    pieces = {}
    pid = 20
    for ch in "abcdefghijklmnopqrstuvwxyz▁[]REL SEP":
        pieces[ch] = [pid, -2.0]
        pid += 1
    path = tmp_path / "vocab.json"
    path.write_text(json.dumps({"pieces": pieces, "unk_id": 3}))
    monkeypatch.setenv("GLIREL_TOKENIZER_VOCAB", str(path))
    m = DeterministicGLiREL()
    pidx, probs = m.score_doc(
        ["spark", "feeds", "table"], np.array([[0, 0], [2, 2]]),
        ("feeds", "used by"), None,
    )
    assert probs.shape == (2, 2) and np.isfinite(probs).all()
    # different tokenization -> different bits than the stand-in
    monkeypatch.delenv("GLIREL_TOKENIZER_VOCAB")
    m2 = DeterministicGLiREL()
    _, probs2 = m2.score_doc(
        ["spark", "feeds", "table"], np.array([[0, 0], [2, 2]]),
        ("feeds", "used by"), None,
    )
    assert not np.array_equal(probs, probs2)


def test_real_vocab_path_on_reference_newline_prompt(tmp_path, monkeypatch):
    """VERDICT r3 #2: the reference's newline-merging alignment case
    (test_transformer_embeddings.py:226-244) driven through the REAL
    tokenizer path (UnigramVocab Viterbi via GLIREL_TOKENIZER_VOCAB),
    not the hashed stand-in.

    The vocab here is a character-complete unigram table plus a few
    multi-char pieces — behaviorally a DeBERTa-style sentencepiece
    model for these strings (whitespace-only words vanish, multi-word
    labels segment per word, '[REL]'/'[SEP]' resolve to dedicated ids).
    Swapping in the actual deberta-v3 vocab.json (tools/
    export_tokenizer.py) changes ONLY the piece table; every assertion
    below is vocabulary-independent alignment law.
    """
    import json

    # char-complete pieces (▁-prefixed and bare) + some real-ish merges
    pieces: dict[str, list] = {}
    pid = 20
    chars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ',.?!"
    for ch in chars:
        pieces[ch] = [pid, -4.0]; pid += 1
        pieces["▁" + ch] = [pid, -4.0]; pid += 1
    for merged in ("▁the", "▁religion", "▁global", "ing", "▁is", "▁of",
                   "▁birth", "stone", "▁related", "▁to"):
        pieces[merged] = [pid, -2.0]; pid += 1
    path = tmp_path / "vocab.json"
    path.write_text(json.dumps({"pieces": pieces, "unk_id": 3}))
    monkeypatch.setenv("GLIREL_TOKENIZER_VOCAB", str(path))

    # representative slice of the reference sentence (same structure:
    # [REL] <label> pairs, [SEP], text with '\n ' words interleaved)
    words = [
        "[REL]", "birthstone is", "[REL]", "is related to", "[SEP]",
        "Third", ",", "in", "the", "global", "register", "which", "is",
        "characterized", "by", "the", "increased", "pace", "and", "\n ",
        "scope", "of", "the", "movement", ",", "\n ",
        "Religion", "is", "a", "transposable", "term", ".", "\n",
    ]
    vanished = {i for i, w in enumerate(words) if not w.split()}

    ids, wids = E.encode_words(words)
    # HF fast-tokenizer word_ids contract (transformer_embeddings.py:
    # 139-170): specials -100 at both ends, body monotone nondecreasing,
    # whitespace-only words produce NO pieces (merged away)
    assert wids[0] == -100 and wids[-1] == -100
    body = wids[1:-1]
    assert (body >= 0).all()
    assert (np.diff(body) >= 0).all()
    seen = set(body.tolist())
    assert seen == set(range(len(words))) - vanished
    # added/special words are single dedicated ids
    assert ids[1] == E.ADDED_TOKENS["[REL]"]
    sep_pos = words.index("[SEP]")
    assert E.SEP_ID in ids[1:-1][body == sep_pos]
    # multi-word label occupies ONE word position, several pieces
    assert (body == 1).sum() >= 2

    # pooled output: one row per word, zero rows exactly at vanished
    # positions (the reference test's shape[1] == max(len) guarantee
    # plus insert_missing_embeddings' zero-fill)
    m = DeterministicGLiREL()
    reps = m.encoder.embed_words(words, "first")
    assert reps.shape == (len(words), m.encoder.db)
    for i in range(len(words)):
        if i in vanished:
            assert (reps[i] == 0).all(), f"word {i} should be zero-filled"
        else:
            assert not (reps[i] == 0).all(), f"word {i} should be real"
    monkeypatch.delenv("GLIREL_TOKENIZER_VOCAB")
