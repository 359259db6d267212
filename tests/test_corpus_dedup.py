"""Dedup sketches: minhash LSH catches near-dups and rejects unrelated
docs; fingerprint/exact dedup; simhash hamming properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from glirel_spark.operators.corpus_dedup import (
    exact_dedup,
    fingerprint,
    minhash_neardups_arr,
    simhash,
    simhash_neardups,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(f"d{i}", t.split(" ")) for i, t in enumerate(texts)],
        "doc_id string, tokens array<string>",
    )


BASE = "spark table scan hash join merge sort window query stream vector data row column filter"


def test_minhash_finds_neardup_rejects_distinct(spark):
    near = BASE + " extra"          # one token appended -> high jaccard
    other = "a b c d e f g h i j k l m n o p"
    df = _docs(spark, [BASE, near, other])
    out = minhash_neardups_arr(df, threshold=0.5).collect()
    pairs = {(r.doc1, r.doc2) for r in out}
    assert ("d0", "d1") in pairs
    assert all("d2" not in p for p in pairs)
    r = next(r for r in out if (r.doc1, r.doc2) == ("d0", "d1"))
    # 13 shared 3-shingles of 13/14 -> jaccard 13/14
    assert r.inter == 13 and r.un == 14
    assert r.jaccard == 13 / 14


def test_exact_dedup_groups_identical_token_streams(spark):
    df = _docs(spark, [BASE, BASE, "something else entirely here now ok"])
    out = {r.keeper: r.n_docs for r in exact_dedup(df).collect()}
    assert out == {"d0": 2, "d2": 1}


def test_fingerprint_order_sensitive(spark):
    df = _docs(spark, ["a b c", "c b a"])
    fps = [r.fp for r in fingerprint(df).collect()]
    assert fps[0] != fps[1]


def test_simhash_identical_docs_same_hash(spark):
    df = _docs(spark, [BASE, BASE])
    out = [r.simhash for r in simhash(df).collect()]
    assert out[0] == out[1]
    nd = simhash_neardups(df).collect()
    assert [(r.doc1, r.doc2, r.hamming) for r in nd] == [("d0", "d1", 0)]


def test_simhash_distinct_docs_far(spark):
    df = _docs(spark, ["a a a a a a a a", "z z z z z z z z",
                       "m n o p q r s t"])
    sh = simhash(df)
    assert sh.select(F.countDistinct("simhash")).collect()[0][0] >= 2


def test_neardup_clusters_transitive_families(spark):
    """CC over near-dup pairs: A~B, B~C, A!~C still one family with
    canonical = min doc_id (lexicographic on the string ids, matching
    DuckDB VARCHAR min); non-edge docs are their own canonical."""
    from glirel_spark.operators.corpus_dedup import neardup_clusters

    docs = spark.createDataFrame(
        [(d, ["w"]) for d in ["1", "10", "2", "3", "9"]],
        "doc_id string, tokens array<string>",
    )
    nd = spark.createDataFrame(
        [("10", "2"), ("2", "3")], "doc1 string, doc2 string"
    )
    out = {
        r.doc_id: (r.canonical_id, r.is_canonical)
        for r in neardup_clusters(docs, neardups=nd).collect()
    }
    assert out == {
        "10": ("10", True),   # '10' < '2' < '3' lexicographically
        "2": ("10", False),
        "3": ("10", False),   # transitive: 3 reaches 10 only via 2
        "1": ("1", True),
        "9": ("9", True),
    }


def test_decontaminate_flags_shingle_overlap(spark):
    from glirel_spark.operators.corpus_dedup import decontaminate, with_shingle_array

    docs = spark.createDataFrame(
        [
            ("0", "the quick brown fox jumps".split(" ")),   # eval (0 % 3 == 0)
            ("1", "xx quick brown fox yy".split(" ")),       # shares 3-gram
            ("2", "a b c d e".split(" ")),                   # disjoint
            ("3", "also eval split here now".split(" ")),    # eval
            ("4", "zz".split(" ")),                          # too short: no shingles
        ],
        "doc_id string, tokens array<string>",
    )
    out = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in decontaminate(with_shingle_array(docs), eval_mod=3).collect()
    }
    # eval docs excluded from the output; "quick brown fox" is the one
    # shared 3-gram; the shingle-less doc is present and clean
    assert out == {"1": (1, True), "2": (0, False), "4": (0, False)}


def test_doc_repetition_fraction(spark):
    from glirel_spark.operators.corpus_dedup import doc_repetition, with_shingle_array

    docs = spark.createDataFrame(
        [
            ("0", "a b c a b c a b c".split(" ")),  # 7 windows, 3 distinct
            ("1", "u v w x y".split(" ")),          # 3 windows, all distinct
            ("2", ["solo"]),                        # no windows
        ],
        "doc_id string, tokens array<string>",
    )
    out = {
        r.doc_id: (r.n_shingles, r.n_distinct_shingles, r.dup_shingle_frac)
        for r in doc_repetition(with_shingle_array(docs)).collect()
    }
    assert out["0"] == (7, 3, 1.0 - 3.0 / 7.0)
    assert out["1"] == (3, 3, 0.0)
    assert out["2"] == (0, 0, 0.0)


def test_neardup_clusters_raises_on_nonconvergence(spark):
    """ADVICE r2: a near-dup chain longer than max_iter rounds must
    fail loudly, never return partially merged families."""
    import pytest

    from glirel_spark.operators.corpus_dedup import neardup_clusters

    docs = spark.createDataFrame(
        [(str(i), ["x"]) for i in range(6)],
        "doc_id string, tokens array<string>",
    )
    # a 6-node chain: diameter 5 > max_iter 1
    chain = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(5)],
        "doc1 string, doc2 string",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(docs, neardups=chain, max_iter=1)
    # and with enough rounds the same chain collapses to one family
    out = neardup_clusters(docs, neardups=chain, max_iter=10).collect()
    assert {r.canonical_id for r in out} == {"0"}


def test_decontaminate_rejects_noninteger_doc_ids(spark):
    """ADVICE r2: content-addressed (sha1) doc ids must raise, not
    silently produce an empty result. Under Spark 4's default ANSI
    mode the cast itself throws CAST_INVALID_INPUT; the assert_true
    guard is the backstop for ANSI-off deployments where the cast
    would return NULL — either way, loud, never empty."""
    import pytest

    from glirel_spark.operators.corpus_dedup import decontaminate, with_shingle_array

    docs = spark.createDataFrame(
        [("a1b2c3", "the quick brown fox jumps over the dog".split(" "))],
        "doc_id string, tokens array<string>",
    )
    sh = with_shingle_array(docs)
    with pytest.raises(
        Exception, match="doc_id must cast to long|cannot be cast"
    ):
        decontaminate(sh).collect()


def test_chunk_dedup_hand_computed(spark):
    from glirel_spark.operators.corpus_dedup import chunk_dedup

    docs = spark.createDataFrame(
        [
            ("a", ["p", "q", "r", "s"]),   # chunks: [p q], [r s]
            ("b", ["p", "q", "x"]),        # chunks: [p q] (dup of a#0), [x]
            ("c", ["p", "q"]),             # chunk:  [p q] (dup)
        ],
        "doc_id string, tokens array<string>",
    )
    got = {r.doc_id: r for r in chunk_dedup(docs, w=2).collect()}
    a, b, c = got["a"], got["b"], got["c"]
    # "p q" appears 3x; keeper is (a, 0)
    assert (a.n_chunks, a.n_dup_chunks, a.n_kept_chunks) == (2, 1, 2)
    assert (b.n_chunks, b.n_dup_chunks, b.n_kept_chunks) == (2, 1, 1)
    assert (c.n_chunks, c.n_dup_chunks, c.n_kept_chunks) == (1, 1, 0)
    assert a.dup_ratio == 0.5 and c.dup_ratio == 1.0


def test_dsir_weights_prefers_target_like_docs(spark):
    from glirel_spark.operators.corpus_dedup import dsir_weights

    rows = (
        # target slice: "en" docs repeat the bigram "good text"
        [(f"t{i}", "good text good text", "en") for i in range(4)]
        # raw-only mass: junk bigrams never seen in the target
        + [(f"r{i}", "junk junk junk junk", "fr") for i in range(4)]
    )
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    got = {r.doc_id: r for r in dsir_weights(docs).collect()}
    assert got["t0"].n_bigrams == 3
    # target-like docs must outscore raw-only docs
    assert got["t0"].mean_logratio_bits > got["r0"].mean_logratio_bits
    # deterministic across docs with identical text
    assert got["t0"].logratio_bits == got["t3"].logratio_bits


def test_dup_spans_hand_computed(spark):
    from glirel_spark.operators.corpus_dedup import dup_spans

    docs = spark.createDataFrame(
        [
            # shared 4-token run "a b c d" -> 2 consecutive dup 3-shingle
            # positions; doc x has 5 shingle positions total
            ("x", ["a", "b", "c", "d", "q", "r", "s"]),
            ("y", ["z", "a", "b", "c", "d"]),
            # unique content, and a doc too short for any shingle
            ("u", ["m", "n", "o", "p"]),
            ("v", ["t"]),
        ],
        "doc_id string, tokens array<string>",
    )
    got = {r.doc_id: r for r in dup_spans(docs).collect()}
    assert set(got) == {"x", "y"}  # u unique, v has no shingles
    x = got["x"]
    assert (x.n_dup_positions, x.n_runs, x.max_run) == (2, 1, 2)
    assert x.max_dup_tokens == 4           # run of 2 positions + k-1
    assert x.dup_cover_ratio == 2 / 5
    y = got["y"]
    assert (y.n_dup_positions, y.n_runs, y.max_run) == (2, 1, 2)
    assert y.dup_cover_ratio == 2 / 3


def test_allpairs_matches_bruteforce_and_minhash_recall(spark):
    """AllPairs exact join == brute-force exact Jaccard >= 4/5 on a
    corpus with planted near-dups; also a superset of what LSH finds
    (zero false negatives is the operator's whole claim)."""
    from glirel_spark.operators import corpus_dedup as cd

    base = "w%d"
    rows = []
    for d in range(12):
        toks = [base % (i % 9) for i in range(20)]
        if d % 3 == 1:
            toks[-1] = "only%d" % d  # near-dup of the d%3==0 docs
        if d % 3 == 2:
            toks = ["only%d_%d" % (d, i) for i in range(20)]  # unrelated
        rows.append((str(d), toks))
    docs = spark.createDataFrame(rows, "doc_id string, tokens array<string>")

    got = {
        (r["doc1"], r["doc2"]): (r["inter"], r["un"])
        for r in cd.allpairs_neardups(docs).collect()
    }

    # brute force over all pairs
    sh = cd.shingles_arr(docs)
    sets = {}
    for r in sh.collect():
        sets.setdefault(r["doc_id"], set()).add(r["sh"])
    expect = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            un = len(sets[a] | sets[b])
            if inter * 5 >= un * 4:
                expect[(a, b)] = (inter, un)
    assert got == expect
    assert len(got) > 0  # the planted near-dups were found


def test_containment_matches_bruteforce(spark):
    """Directional containment join == brute-force |A∩B|/|A| >= 4/5 on
    a corpus with a planted quote (short doc embedded in a long one) —
    the pair the symmetric Jaccard operators deliberately miss."""
    from glirel_spark.operators import corpus_dedup as cd

    article = ["w%d" % i for i in range(40)]
    quote = article[10:18]            # 8 tokens fully inside the article
    near_quote = quote[:-1] + ["odd"]  # trailing token differs
    rows = [
        ("art", article),
        ("qt", quote),
        ("nq", near_quote),
        ("other", ["x%d" % i for i in range(20)]),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, tokens array<string>")

    got = {
        (r["doc_sub"], r["doc_super"]): (r["inter"], r["n_sub"], r["containment_milli"])
        for r in cd.containment_pairs(docs).collect()
    }

    sh = cd.shingles_arr(docs)
    sets = {}
    for r in sh.collect():
        sets.setdefault(r["doc_id"], set()).add(r["sh"])
    expect = {}
    for a in sets:
        for b in sets:
            if a == b:
                continue
            inter = len(sets[a] & sets[b])
            n_sub = len(sets[a])
            if inter * 5 >= n_sub * 4:
                expect[(a, b)] = (inter, n_sub, inter * 1000 // n_sub)
    assert got == expect
    # the planted quote is found in the sub->super direction only
    assert ("qt", "art") in got
    assert ("art", "qt") not in got
    # jaccard of the quote pair is small: symmetric dedup would miss it
    inter = len(sets["qt"] & sets["art"])
    un = len(sets["qt"] | sets["art"])
    assert inter * 5 < un * 4


def test_split_assign_content_addressed_and_leakage_consistent(spark):
    """Identical token streams always co-split (content-addressed, id
    plays no role); split_leakage == the near-dup relation filtered to
    differing splits."""
    from glirel_spark.operators import corpus_dedup as cd

    rows = []
    for d in range(30):
        if d % 3 == 0:
            toks = ["w%d" % (i % 9) for i in range(20)]       # clones
        elif d % 3 == 1:
            toks = ["w%d" % (i % 9) for i in range(19)] + ["odd%d" % d]
        else:
            toks = ["u%d_%d" % (d, i) for i in range(20)]
        rows.append((str(d), toks))
    docs = spark.createDataFrame(rows, "doc_id string, tokens array<string>")

    sa = {r.doc_id: (r.fp, r.split) for r in cd.split_assign(docs).collect()}
    clone_splits = {sa[str(d)] for d in range(0, 30, 3)}
    assert len(clone_splits) == 1  # identical content -> identical split

    leaks = {
        (r.doc1, r.doc2) for r in cd.split_leakage(docs).collect()
    }
    pairs = {
        (r.doc1, r.doc2)
        for r in cd.minhash_neardups_arr(docs).collect()
    }
    expect = {
        (a, b) for a, b in pairs if sa[a][1] != sa[b][1]
    }
    assert leaks == expect


def test_split_assign_safe_zero_leakage(spark):
    """Family-level assignment: re-running the leakage audit against
    split_assign_safe yields ZERO crossing pairs (the by-construction
    claim), and singleton docs keep their plain content-hash split."""
    from glirel_spark.operators import corpus_dedup as cd

    rows = []
    for d in range(30):
        if d % 3 == 0:
            toks = ["w%d" % (i % 9) for i in range(20)]
        elif d % 3 == 1:
            toks = ["w%d" % (i % 9) for i in range(19)] + ["odd%d" % d]
        else:
            toks = ["u%d_%d" % (d, i) for i in range(20)]
        rows.append((str(d), toks))
    docs = spark.createDataFrame(rows, "doc_id string, tokens array<string>")

    safe = {r.doc_id: r.split for r in cd.split_assign_safe(docs).collect()}
    pairs = {(r.doc1, r.doc2) for r in cd.minhash_neardups_arr(docs).collect()}
    assert pairs, "fixture must contain near-dup pairs"
    assert all(safe[a] == safe[b] for a, b in pairs)  # zero leakage

    plain = {r.doc_id: r.split for r in cd.split_assign(docs).collect()}
    in_pairs = {d for p in pairs for d in p}
    singles = set(safe) - in_pairs
    assert singles and all(safe[d] == plain[d] for d in singles)
