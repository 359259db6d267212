"""Shared constants for the engine AND its DuckDB oracle SQL.

Every constant used by a Spark operator that also appears in an
``oracle_sql()`` string is defined exactly once here; ``oracle.py``
interpolates these into SQL so the two sides cannot drift.

The gazetteer / label set is a deterministic *test harness* over the
driver's closed-vocabulary `documents` corpus (31 distinct tokens, see
TESTDATA.md). In production the mention source is an upstream NER table
and the label set is user-supplied — both flow through the exact same
operators; only these constants change.
"""

from __future__ import annotations

# --------------------------------------------------------------------------
# Tokenization
# --------------------------------------------------------------------------
# Reference tokenizer regex: glirel/model.py:523, custom_tokenizers.py:17.
# On the driver corpus (lowercase words + single spaces) this is exactly
# split-by-space; tests assert the equivalence (tests/test_tokenize.py).
TOKEN_REGEX = r"\w+(?:[-_]\w+)*|\S"

# --------------------------------------------------------------------------
# Gazetteer (deterministic mention source over the closed vocabulary)
# --------------------------------------------------------------------------
# Unigram surface form -> entity type.
ENTITY_UNIGRAMS: dict[str, str] = {
    "spark": "TOOL",
    "customer": "ACTOR",
    "table": "OBJECT",
    "vector": "OBJECT",
    "stream": "OBJECT",
    "window": "OBJECT",
    "query": "EVENT",
    "key": "OBJECT",
}

# Bigram surface form (two consecutive tokens) -> entity type.
# Bigrams deliberately overlap unigrams ("table scan" vs "table") and each
# other ("sort merge" / "merge join") to exercise overlap resolution.
# Reference semantics (process_wiki_zsl.py:143-162): remove only strictly
# CHAR-shorter overlapping spans (equal-length overlaps both survive).
# This engine INTENTIONALLY deviates: token-length dominance with an
# earlier-start tie-break — a deterministic total order (see
# fused._hygiene_col docstring for the rationale).
ENTITY_BIGRAMS: dict[tuple[str, str], str] = {
    ("hash", "join"): "ALGO",
    ("table", "scan"): "ALGO",
    ("merge", "join"): "ALGO",
    ("sort", "merge"): "ALGO",
}

# --------------------------------------------------------------------------
# Relation label set + entity-type constraints
# --------------------------------------------------------------------------
# Mirrors the reference's labels dict w/ allowed_head/allowed_tail
# (README.md:73-88; constraint filter glirel/modules/utils.py:67-81:
# a missing key means unconstrained).
COREF_LABEL = "SELF"  # special coref label (glirel/modules/utils.py:86-153)

RELATION_LABELS: dict[str, dict[str, list[str]]] = {
    "used by": {"allowed_head": ["TOOL", "OBJECT", "ALGO"], "allowed_tail": ["ACTOR"]},
    "depends on": {},
    "feeds": {"allowed_head": ["OBJECT"], "allowed_tail": ["EVENT", "OBJECT"]},
    "runs on": {"allowed_head": ["ALGO"], "allowed_tail": ["TOOL"]},
    "related to": {},
}

ALL_ENTITY_TYPES = sorted(
    set(ENTITY_UNIGRAMS.values()) | set(ENTITY_BIGRAMS.values())
)

# --------------------------------------------------------------------------
# Pair generation (J1)
# --------------------------------------------------------------------------
# Reference: generate_entity_pairs_indices (glirel/modules/base.py:59-109):
# bidirectional i != j, optional |h_start - t_start| <= max_distance.
MAX_PAIR_DISTANCE = 8

# --------------------------------------------------------------------------
# Lexical scorer (SQL-expressible deterministic score; the oracle-checked
# twin of the tensor-plane scorer). Integer arithmetic only, then a single
# exactly-rounded IEEE division -> bit-identical in Spark and DuckDB.
# --------------------------------------------------------------------------
SCORE_MOD = 97
SCORE_W_HLEN = 7
SCORE_W_TLEN = 11
SCORE_W_LLEN = 13
SCORE_W_DIST = 3
SCORE_W_HCH = 17
SCORE_W_TCH = 19
SCORE_W_LCH = 23

# decode thresholds (reference threshold grid: config_wiki_zsl.yaml:65)
THRESHOLD = 0.5
THRESHOLD_GRID = [0.01, 0.1, 0.2, 0.3, 0.5, 0.6]

# gold standard for the evaluation replay = lexical score above this raw
# value (so gold is deterministically derivable in both engines)
GOLD_RAW_MIN = 65

# --------------------------------------------------------------------------
# Entity linking / canonicalization (J7/J8 seed dictionary)
# --------------------------------------------------------------------------
ALIAS_DICT: dict[str, str] = {
    "spark": "Q:apache_spark",
    "table": "Q:relation_table",
    "table scan": "Q:op_table_scan",
    "hash join": "Q:op_hash_join",
    "merge join": "Q:op_merge_join",
    "sort merge": "Q:op_sort_merge",
    "customer": "Q:customer",
    "vector": "Q:vector",
    "stream": "Q:stream",
    "window": "Q:window",
    "query": "Q:query",
    "key": "Q:key",
}

# --------------------------------------------------------------------------
# MinHash / SimHash dedup constants (integer arithmetic, engine-portable)
# --------------------------------------------------------------------------
HASH_P = 1_000_000_007  # prime modulus
SHINGLE_K = 3  # token 3-grams
SHINGLE_BASE = 31
MINHASH_K = 8  # signature length
MINHASH_BANDS = 4  # rows per band = MINHASH_K // MINHASH_BANDS = 2
# (a, b) per minhash function: deterministic small odd constants
MINHASH_AB = [
    (1_234_567, 89_041),
    (2_345_671, 17_389),
    (3_456_789, 41_227),
    (4_567_891, 73_061),
    (5_678_913, 29_017),
    (6_789_131, 53_407),
    (7_891_313, 97_001),
    (8_913_131, 11_489),
]
NEARDUP_JACCARD = 0.8
# AllPairs/PPJoin exact set-similarity join threshold as an exact
# rational (integer cross-multiplied test; == NEARDUP_JACCARD)
ALLPAIRS_T_NUM = 4
ALLPAIRS_T_DEN = 5
# containment join (quote detection): |A∩B|/|A| >= 4/5; hot-posting cap
CONTAIN_T_NUM = 4
CONTAIN_T_DEN = 5
CONTAIN_DF_CAP = 64

# BM25 more-like-this retrieval: query sample, result depth, and the
# per-query term budget (the R rarest terms of each query doc carry
# essentially all of its BM25 mass; bounds broadcast size and posting
# fanout BY CONSTRUCTION)
BM25_QUERY_MOD = 50
BM25_TOPK = 10
BM25_QUERY_TERMS = 8

# leakage-safe corpus splitting: content-hash buckets out of 100
# (byte-identical docs always co-split by construction)
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # test = the remainder

# training-mixture planner: global token budget + per-domain weights in
# basis points (must sum to 10000; 'other' is the catch-all bucket).
# Budget deliberately not a multiple of 10000 so the largest-remainder
# path is exercised at every scale factor.
MIXTURE_BUDGET_TOKENS = 33_333
MIXTURE_WEIGHTS_BPS = {
    "en": 5000,
    "de": 2500,
    "fr": 1500,
    "es": 300,
    "other": 700,
}

SIMHASH_BITS = 48  # 12-bit LSH chunks keep candidate blocks selective
SIMHASH_AB = [(2 * i + 3, 7 * i + 5) for i in range(SIMHASH_BITS)]
SIMHASH_MAX_HAMMING = 3

# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
STOPWORDS = ["the", "a"]
FINGERPRINT_BASE = 1_000_003  # rolling-hash base for document fingerprint
# benchmark decontamination: the deterministic pseudo-eval split
# (doc_id % MOD == 0) standing in for an external benchmark table
DECONTAM_EVAL_MOD = 97
# chunk-level (line-dedup analog) dedup: tokens per chunk
CHUNK_W = 8
# DSIR importance resampling: hashed-bigram feature buckets + the
# target-distribution selector (docs whose lang == this)
DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"

# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------
ANN_TOP_K = 5
ANN_N_QUERIES = 10  # brute-force query set = first N vec_ids
IVF_N_CELLS = 16  # coarse cells for the IVF-style scale path
# trained IVF (sample-fit spherical k-means, operators/kmeans.py).
# Operating point chosen by tools/ivf_recall_sweep.py at sf0.1 (table in
# BENCH/BASELINE.md): cells=16, n_probe=6, corpus_probe=3 is the
# cheapest sweep point with recall@5 >= 0.9 on BOTH the driver's
# 10-query set (0.900) and the wide 100-query set (0.948). The
# synthetic embeddings are near-uniform on the sphere, so the candidate
# fraction at that recall is high (~0.78) — an honest property of the
# data, not the index; clustered production embeddings reach the same
# recall at far lower probe budgets with the identical machinery.
IVF_KM_CELLS = 16  # coarse centroids (FAISS-style trained quantizer)
IVF_KM_SAMPLE = 512  # driver-side fit sample cap
IVF_KM_ITERS = 8  # Lloyd iterations
IVF_KM_NPROBE = 6  # query-side multi-probe width
IVF_KM_CORPUS_PROBE = 3  # corpus-side multi-assignment (index replication)
PQ_M = 8  # product-quantization subspaces (d=64 -> 8 dims each)
PQ_KS = 16  # codes per subspace (4-bit codes; 64 floats -> 8 bytes)
PQ_ITERS = 8  # per-subspace Lloyd iterations
# SemDeDup (cluster-blocked semantic dedup). The synthetic embeddings
# are near-uniform on the sphere (within-cell pairwise cosine tops out
# ~0.44 at sf0.001), so the demo threshold sits where drops actually
# occur; production text embeddings use ~0.95+ with the same machinery.
SEMDEDUP_MIN_COSINE = 0.35

# --------------------------------------------------------------------------
# Text quality rule panel (Gopher-style) + KG entity resolution
# --------------------------------------------------------------------------
GOPHER_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "that"]
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
NEIGH_HUB_CAP = 64  # stop-node removal: drop neighbors of degree > cap

# --------------------------------------------------------------------------
# Multimodal (synthetic deterministic media bytes; decode itself is stubbed)
# --------------------------------------------------------------------------
MEDIA_N_BYTES = 64
MEDIA_TOKEN_COST = 16  # token budget a media span occupies when packing
INTERLEAVED_CHUNK_BUDGET = 48  # media-atomic chunking: tokens per chunk

# --------------------------------------------------------------------------
# Training-data packing / chunking / quality stratification / KG walks
# --------------------------------------------------------------------------
PACK_BLOCK = 256  # tokens per packed pretraining block (each doc adds 1 EOS)
RAG_CHUNK_W = 32  # RAG chunk window (tokens)
RAG_CHUNK_STRIDE = 24  # chunk stride (overlap = W - stride)
QUALITY_N_BUCKETS = 10  # CCNet-style corpus quality deciles
WALK_LEN = 4  # deterministic DeepWalk rollout length (steps past the start)
WALK_SALT = "walk:v1:"  # salt for the neighbor-selection char hash
SKIPGRAM_WINDOW = 2  # skip-gram context window over walk positions
CLOSURE_PRED = "depends on"  # hierarchy predicate for transitive closure
LP_ROUNDS = 3  # synchronous label-propagation rounds (community detection)
SN_WINDOW = 3  # sorted-neighborhood ER: compare next-W names in sort order
KTRUSS_K = 3  # k-truss: every surviving edge needs >= k-2 triangle support
VOCAB_KS = [4, 8, 16, 32]  # vocabulary-budget curve points
DS_MIN_SUPPORT = 2  # distant supervision: min distinct supporting docs

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# --------------------------------------------------------------------------
# Re-DocRED reference data (read by sources/docred.py and its oracle twins)
# --------------------------------------------------------------------------
REFERENCE_DIR = "/root/reference"  # the reference checkout's root
DOCRED_DEV = f"{REFERENCE_DIR}/data/re-docred/data/dev_revised.json"
DOCRED_TEST = f"{REFERENCE_DIR}/data/re-docred/data/test_revised.json"
WIKIDATA_PROPERTIES = f"{REFERENCE_DIR}/data/all_wikidata_properties.json"
