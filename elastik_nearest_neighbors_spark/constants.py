"""Shared deterministic constants.

Everything here is derived from fixed seeds so the Spark operators and the
DuckDB oracle SQL (oracles.py) compute bit-identical results. Do not change
values without regenerating both sides.
"""

from __future__ import annotations

import random

# ---- universal hashing (minhash) -------------------------------------------
# h_j(x) = (A[j] * (x mod P) + B[j]) mod P, P Mersenne prime 2^31-1.
# x is the 60-bit md5-prefix hash of a shingle; all arithmetic stays < 2^63.
MERSENNE_P = 2_147_483_647
MINHASH_K = 16
_rnd = random.Random(42)
MINHASH_A = [_rnd.randrange(1, MERSENNE_P) for _ in range(MINHASH_K)]
MINHASH_B = [_rnd.randrange(0, MERSENNE_P) for _ in range(MINHASH_K)]
MINHASH_BAND_ROWS = 4  # 16 sigs -> 4 bands of 4
MINHASH_JACCARD_TAU = 0.8

# ---- simhash ----------------------------------------------------------------
# 64-bit simhash in 4 bands of 16 bits: the band-blocking key space is 65536
# values per band (vs 256 at 8-bit bands), so bucket occupancy stays ~N/2^16
# per band as N grows — the 32-bit/8-bit variant went quadratic at ~10^5 docs.
SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 3
SIMHASH_BANDS = 4  # pigeonhole: <=3 flipped bits leave >=1 of 4 bands intact
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16

# ---- hot-bucket cap for pair-generating self-joins --------------------------
# Candidate-pair generation inside one blocking bucket is O(m²) in the bucket
# size m; a single viral duplicate (boilerplate string, null-ish embedding)
# makes a mega-bucket that no shuffle-level skew handling can fix — AQE splits
# the shuffle but not the quadratic pair explosion. Buckets with more than
# MAX_BUCKET members are DROPPED before the self-join (documented
# approximation: members colliding with >MAX_BUCKET others carry almost no
# pairwise information). The rule depends only on exact bucket counts, so the
# DuckDB oracles mirror it bit-for-bit. Applies to the pair-join family
# (similarity_join_lsh, dedup_embedding_cosine, dedup_minhash_*, dedup_simhash,
# minhash_est_jaccard); ANN *search* stays uncapped — per-query work there is
# linear in bucket size, and capping would break reference search parity.
MAX_BUCKET = 100

# ---- char n-gram jaccard join ----------------------------------------------
NGRAM_N = 4
NGRAM_JACCARD_TAU = 0.8
# containment_join: directed near-subset threshold |A∩B|/|A|. The corpus's
# containment distribution is bimodal (≈1.0 for near-dup/quoted docs, <0.5
# noise); 0.9 keeps the real subset relationships including asymmetric ones
# jaccard misses (small A quoted inside large B). sf0.001: ~50 directed pairs.
CONTAIN_TAU = 0.9
# dedup_incremental: docs with doc_id % INCR_MOD == 0 form the "new batch"
# deduped against the remaining "old corpus" (mirrors UPSERT_MOD's synthetic
# delta). 7 keeps real cross pairs at the gate SFs (7 new-vs-old true-jaccard
# ≥ τ pairs at sf0.001, 9 at sf0.01 — measured, not assumed).
INCR_MOD = 7
# dup_spans / dup_span_scrub: Lee et al. 2022 ("Deduplicating Training Data
# Makes Language Models Better") exact-substring span dedup, re-expressed as
# sliding DUPSPAN_W-token windows (stride 1 — unlike boilerplate_scrub's
# disjoint segments, so maximal duplicated regions are recovered, not just
# aligned ones). A window occurring ≥ DUPSPAN_MIN_FREQ times corpus-wide
# (same doc or not) marks its positions duplicated; overlapping/touching
# positions merge into maximal spans. W=12 at the gate SFs keeps a healthy
# non-trivial population (~1.9k dup positions → ~900 dup windows at sf0.01,
# measured) while staying well under typical doc length (~32 tokens).
DUPSPAN_W = 12
DUPSPAN_MIN_FREQ = 2
# matryoshka (MRL) two-stage ANN: coarse rank on the first MRL_DIMS dims of
# the 64-dim embedding (the prefix a trained-matryoshka model concentrates
# variance into; on this synthetic corpus it's just the leading slice), then
# exact full-dim re-rank of the top-MRL_K1 shortlist. K1=30 matches the
# IVFPQ refine budget (REFINE_R=30) so recall rows compare at equal re-rank
# cost.
MRL_DIMS = 16
MRL_K1 = 30
# binary sign quantization (1 bit/dim, the "binary quantization" modern
# vector stores ship for 32x storage cuts): bit d = v_d > per-dim midpoint
# (min+max)/2, packed into two 32-bit words per vector (two BIGINTs keeps
# the code portable — DuckDB raises on 1::BIGINT << 63). Coarse rank =
# Hamming distance (popcount of xor), exact re-rank of the top-BITSIGN_K1.
# K1 = 30 = MRL_K1 = REFINE_R: all two-stage recalls compare at equal
# re-rank budget.
BITSIGN_K1 = 30

# ---- LSH / ANN (reference parity: aknn_create defaults scaled down) ---------
# Reference defaults used more tables/bits for millions of vectors; bits
# must scale ~log2(N/target_bucket_size). Tuned empirically on the test
# embeddings (weak cluster structure): 16 tables x 6 bits gives recall@10
# ≈ 0.46 at 500 vectors / 0.28 at 2000 with ~100-500 candidates per query.
LSH_TABLES = 16
LSH_BITS = 6
# recall-sweep axes: table-count and bits-per-table prefixes of the fitted
# model (the reference's published evaluation sweeps recall/latency over
# BOTH index params, nb_tables and nb_bits_per_table)
LSH_SWEEP_TABLES = [2, 4, 8, 16]
LSH_SWEEP_BITS = [2, 4, 6]
# filtered ANN: the metadata predicate composed with _aknn_search (the ES
# host filters candidates by ordinary query clauses; label is our stand-in)
ANN_FILTER_LABEL = 3
# index upsert: vectors with vec_id % UPSERT_MOD == 0 are "updated"
# (deterministically doubled — doubling is exact in IEEE, so both engines
# hash/rank the identical updated doubles); 17 puts ~6% of vectors,
# including query vec_id 0, on the changed side
UPSERT_MOD = 17
# index delete (r9, #151): vectors with vec_id % DELETE_MOD == DELETE_REM
# are purged — an id-set delete, the GDPR/right-to-be-forgotten shape;
# 13/3 puts ~7.7% of vectors, including query vec_id 3, on the deleted
# side (so the rebuild semantics of a vanished QUERY are exercised too)
DELETE_MOD = 13
DELETE_REM = 3
# graph rebuild (r11, #158): the accumulated-delete fraction at which the
# periodic offline rebuild is exercised. Pinned to 25% — the smallest
# measured fraction where mark-delete recall VISIBLY degrades vs a rebuild
# (sf0.01, original quantizers, seeds held identical so the edge set is
# the only variable): 1/13 and 1/6 purges show zero recall gap; at 1/4 the
# rebuild restores +0.05 mean recall (0.5833 → 0.6333), at 1/3 +0.04, at
# 1/2 +0.05 — so the degradation regime starts between 16.7% and 25%,
# sharpening the r10 graph_delete claim ("no degradation at 7.7%").
GRAPH_REBUILD_MOD = 4
GRAPH_REBUILD_REM = 1
ANN_K1 = 100  # candidates from hash-table term match
ANN_K2 = 10  # final neighbors after exact re-rank
# PQ (product quantization): M subspaces × ksub centroids — 64 float64 dims
# become 4 one-byte codes (128× storage compression for the scan path)
PQ_M = 4
PQ_KSUB = 16
PQ_SAMPLE = 256  # deterministic fit sample: first N vectors by id
PQ_ITERS = 5
# IVF coarse quantizer (scale-path ANN; FAISS-style inverted lists)
IVF_NLIST = 16  # centroids / inverted lists
IVF_NPROBE = 4  # lists probed per query
IVF_SAMPLE = 256  # deterministic fit sample: first N vectors by id
# IVFPQ refine stage (FAISS IndexRefineFlat): re-rank the top REFINE_R
# ADC candidates per query by exact distance on the raw vectors. R is the
# standard 3-4x over-fetch of the final k — the refine read is R raw
# vectors per query regardless of corpus size.
REFINE_R = 30
IVF_ITERS = 5  # Lloyd iterations
KNN_K = 10
N_QUERIES = 8  # vec_id < 8 is the canonical query set for test entries
COSINE_JOIN_TAU = 0.42
DIST_ROUND = 6  # decimal places for distance rounding at output/rank edges

# ---- text ops ---------------------------------------------------------------
FINGERPRINT_BASE = 131
TOKEN_REGEX = "[a-z0-9]+"
# marker-word lists for the language-ID heuristic; tiebreak order is list order
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "is", "and", "of", "to", "in"]),
    ("es", ["el", "la", "de", "que", "y", "los"]),
    ("de", ["der", "die", "das", "und", "ist", "ein"]),
    ("fr", ["le", "la", "les", "et", "est", "une"]),
    ("zh", ["de5", "shi4", "le5"]),  # romanized placeholders
]
STOPWORDS_EN = LANG_MARKERS[0][1]

# ---- analytics --------------------------------------------------------------
DEC = "decimal(18,6)"  # exact money arithmetic; sums are order-insensitive
Q3_SEGMENT = "BUILDING"
Q3_DATE = "1998-01-01"
Q6_YEAR = 1997
Q6_DISC_LO = 0.03
Q6_DISC_HI = 0.07
Q6_QTY = 24
SESSION_GAP_MS = 30 * 60 * 1000
Q4_DATE_LO = "1997-01-01"
Q4_DATE_HI = "1998-01-01"
Q5_REGION = "ASIA"
Q5_DATE_LO = "1997-01-01"
Q5_DATE_HI = "1998-01-01"
Q7_NATION_A = "NATION_1"  # synthetic testdata nation names
Q7_NATION_B = "NATION_2"
Q10_DATE_LO = "1997-01-01"
Q10_DATE_HI = "1997-04-01"
Q10_TOPK = 20
Q18_QTY = 250  # order total-quantity threshold (99th pct ≈ 262 at sf0.01)
BUCKET_N = 16  # bucket count for co-located fact⋈fact joins (scale: O(1000))
Q12_LATE_DAYS = 60  # lineitem is "late" if shipped > this many days after order
Q21_LATE_DAYS = 60  # same lateness cutoff for the waiting-supplier audit
Q21_TOPK = 10  # suppliers reported by q21_waiting_supplier
FUNNEL_WINDOW_MS = 30 * 60 * 1000  # click→purchase conversion window
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]  # pivot columns
# (explicit list => Catalyst skips the distinct-discovery job AND the pivot
# column set is schema-stable at any scale — never derive it from the data)

# ---- PII scrubbing / sampling (training-pipeline prep) ----------------------
# RE2-compatible patterns (DuckDB) that are also valid Java regex (Spark):
# no backrefs, no lookaround.
PII_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PII_LONGNUM_RE = "[0-9]{7,}"  # phone-ish / id-ish digit runs
PII_REDACTION = "<PII>"
SAMPLE_BUCKETS = 100  # deterministic hash-mod sampling space
SAMPLE_KEEP = 10  # keep bucket < 10 → 10% sample

# ---- repetition / decontamination (training-pipeline prep) ------------------
REP_NGRAM = 2  # bigram repetition metrics (Gopher-style quality filter)
# n-gram size for benchmark-overlap decontamination: real pipelines use 8-13
# over natural language; the synthetic corpus has a ~30-word vocabulary, so 4
# is the length where overlap is rare-but-present (19 flagged docs at sf0.01
# vs 1 at n≥5 — an empty-ish gate tests nothing)
# BM25 (Lucene/Elasticsearch defaults) + reciprocal-rank fusion. idf and
# per-term scores round to DIST_ROUND before the decimal sum so both
# engines' ln() agree at the compared precision (the idf_scores precedent)
# and the sum is order-insensitive.
BM25_K1 = 1.2
BM25_B = 0.75
# Query-batch plan-shape switch (r5): the literal-map BM25 path compiles one
# map/when branch PER QUERY into the plan — unbeatable at interactive Q
# (zero joins against the corpus) but plan size, constant folding and
# codegen method size all grow linearly with Q; a 10k-query batch would
# blow past Catalyst's 64KB codegen method limit. Above these thresholds
# the operators switch to a broadcast query-terms (resp. phrase) join whose
# plan is O(1) in Q — same per-term float ops, same integer-micros sums,
# so both paths are oracle-identical (equality asserted in tests).
BM25_LITERAL_MAX_Q = 64
PHRASE_LITERAL_MAX_Q = 256
RRF_K = 60  # the constant from the RRF paper / Elasticsearch rank fusion
PHRASE_LEN = 3  # match_phrase probes: first PHRASE_LEN tokens of each query doc
# multi-probe LSH (Lv et al., VLDB'07): per table, also probe the buckets
# reached by flipping the LSH_MULTIPROBE lowest-|margin| bits — the recall
# knob that costs extra bucket LOOKUPS instead of extra tables (no index
# growth, no extra hash pass). Ties on equal |margin| break on bit index.
LSH_MULTIPROBE = 2

DECONTAM_N = 4
DECONTAM_MOD = 40  # doc_id % MOD == 0 → held-out "benchmark" docs

# ---- packing / caps / quantile gating (training-pipeline prep) --------------
PACK_LEN = 512  # tokens per packed training sequence (concat-and-chunk)
PACK_SHARDS = 8  # independent packing shards — the cumsum parallelism unit
SOURCE_CAP = 15  # max docs kept per source (contribution cap; sf0.01 has
# 20 sources x ~25 docs, so the cap really prunes at gate scale)
QUALITY_PCT = 0.5  # keep docs at/above this per-lang quality percent_rank
STRATA_QUOTA = 50  # docs kept per language by stratified_sample (sf0.01 has
# 64-218 docs per lang, so the quota binds for every stratum)
LM_ROUND = 6  # per-token negative-log-prob rounding (then decimal-summed)

# ---- semantic dedup (SemDeDup-style: cluster-scoped embedding near-dups) ----
# within-list cosine threshold; the test embeddings have weak cluster
# structure (max within-list cosine ≈ 0.49 at sf0.01), so the threshold sits
# where the pair set is small but non-empty — same rationale as
# COSINE_JOIN_TAU for the LSH-bucketed path
SEMDEDUP_TAU = 0.42

# ---- extra TPC-H-style analytics constants ----------------------------------
Q15_DATE_LO = "1997-01-01"  # top-supplier revenue quarter
Q15_DATE_HI = "1997-04-01"
# Q19-style disjunctive (brand, max part size, quantity band) alternatives
Q19_ALTS = [
    ("Brand#1", 15, 1, 11),
    ("Brand#2", 25, 10, 20),
    ("Brand#3", 35, 20, 30),
]

# ---- document chunking (training-pipeline prep) ------------------------------
CHUNK_TOKENS = 32  # tokens per chunk
CHUNK_STRIDE = 24  # start-to-start stride (8-token overlap)
TOPK_USERS = 3  # grouped top-k for events_topk_users
CORPUS_QUALITY_TAU = 0.45  # corpus_clean keep threshold
# full-funnel repetition gate: drop docs with dup_bigram_ratio above this
# (sf0.01: drops 9/500 — a real gate that keeps the corpus non-trivial)
CURATE_REP_MAX = 0.1
CORPUS_LANG = "en"
# boilerplate_scrub (CCNet-style line dedup): the corpus has no newline
# structure, so the "line" unit is a fixed SEG_TOKENS non-overlapping token
# window; a segment occurring in ≥ BOILER_MIN_FREQ places corpus-wide is
# boilerplate and is dropped from every document that contains it.
# (sf0.01: 56 of 3609 segments cross the threshold — a real gate.)
SEG_TOKENS = 8
BOILER_MIN_FREQ = 3

# ---- range search / kNN graph / scalar quantization -------------------------
# euclidean radius for range_search: ~1st percentile of the pair-distance
# distribution on the synthetic embeddings (min ≈ 1.05, median ≈ 1.41), so
# each query returns a handful-to-dozens of genuine near neighbors
RANGE_RADIUS = 1.2
KNN_GRAPH_K = 4  # out-degree of the per-list kNN graph
# graph-expanded ANN (operators/graph.py): overlapping-partition kNN graph
# + seed-and-expand search. GRAPH_PROBES=2 memberships create the
# cross-list edges; degree 8 keeps the hop fan-out (seeds × degree) small
# while covering each seed's neighborhood; seeds = top-10 of the single
# nearest list (nprobe=1 — the expansion, not extra probing, adds recall)
GRAPH_PROBES = 2
GRAPH_DEGREE = 8
GRAPH_SEED_K = 10
# the graph BUILD quantizer scales lists with N (target ~250 members per
# list, floor IVF_NLIST): an all-vectors kNN graph must touch every vector,
# so fixing the per-list membership — not the list count — is what keeps
# the pair step LINEAR in N (Σ m² = L·(2N/L)² = 4N·m̄ with m̄ fixed).
# FAISS's nlist ∝ √N rule is for query-time probing, not all-N builds; the
# serving quantizer (seeds) stays the shared IVF model.
GRAPH_LIST_TARGET = 250
# two-level (coarse-over-fine) assignment for scaled quantizers: once L
# (nlist) passes TWO_LEVEL_MIN_NLIST, flat argmin costs N·L distance rows —
# with L ∝ N that is QUADRATIC in N and dominates the third decade (2M
# vectors × 8000 lists measured; see BASELINE.md). A √L-centroid coarse
# level over the fine centroids cuts assignment to ~(1+W)·√L per vector:
# probe the W nearest coarse groups, argmin over only their fine members.
# The boundary miss (true nearest fine list in an unprobed coarse group) is
# the same documented Voronoi-edge approximation as the operators' own
# list scoping. The threshold sits ABOVE every oracle-gated SF (L=16 at
# sf0.001/0.01 gate scales, 80 at sf1), so parity SQL keeps the flat-argmin
# mirror bit-for-bit; activation is deterministic in (N via nlist).
TWO_LEVEL_MIN_NLIST = 128
IVF_COARSE_PROBES = 8
# r5: the single √L coarse level became a LOG-DEPTH hierarchy — √L kept
# assignment ~N^1.5 once L ∝ N (sf100 measured 29× time for 10× data).
# Each hierarchy level is ~HIER_BRANCH× smaller than the one below, the
# top has ≤ HIER_TOP centroids (scanned exhaustively), and each level
# keeps the IVF_COARSE_PROBES nearest groups while descending — per-vector
# assignment ~HIER_TOP + depth·probes·branch distance rows, N·log N
# total. Level fits recurse (hierarchical Lloyd) once a flat fit would
# exceed FLAT_FIT_MAX distance rows per step. Activation threshold stays
# TWO_LEVEL_MIN_NLIST (the historical name), above every oracle-gated SF.
HIER_BRANCH = 32
HIER_TOP = 32
FLAT_FIT_MAX = 1 << 22
# The largest IVF model (fine centroids plus hierarchy, ≈ L·D·8 bytes) that
# assign_udf / probe_udf close over; above it they raise ValueError. Every
# executor task deserializes the closure, and Spark's broadcast guidance
# tops out well under a GB; lists ∝ N/GRAPH_LIST_TARGET at D = 64 reach it
# past ~2.6·10^8 vectors, while the largest measured model (2M) is ~4 MB.
IVF_CLOSURE_MAX_BYTES = 512 << 20
# single-linkage clustering over the graph's edges. Threshold swept at
# sf0.01 (min pair distance ≈ 1.05): 1.2 percolates into one 474-member
# blob, 1.05 leaves only pairs; 1.12 gives 63 non-singleton clusters up to
# size 5 — real multi-hop transitive chains without percolation
GRAPH_CLUSTER_TAU = 1.12
# recall-vs-expansion-depth sweep: hops 0 (seeds only) .. 2
GRAPH_SWEEP_HOPS = 2
# r6 beam refinement (HNSW-style best-first, restated for batch Spark):
# each round expands only the BEAM_WIDTH best not-yet-expanded candidates
# per query, so BEAM_ROUNDS rounds touch ≤ seeds + rounds·width·degree
# candidates (10 + 4·16·8 = 522/query) versus blanket depth-2 expansion's
# ≤ seeds·(1+deg+deg²) = 730 — hop-4 reach at ~72% of depth-2's scored
# budget. Width/rounds swept against the DuckDB oracle at sf0.01
# (recall / budget): 4/3 → 0.775/106, 8/3 → 0.825/202, 8/4 → 0.850/266,
# 12/4 → 0.875/394 (ties depth-2 at 54% budget), 16/4 → 0.9125/522
# (STRICTLY beats depth-2's 0.875 at 72% budget — the chosen point).
# Width/rounds are the ef analogues; both fixed and deterministic so the
# DuckDB oracle unrolls the identical rounds.
BEAM_WIDTH = 16
BEAM_ROUNDS = 4
# r6: dedup_semantic path choice on duplicated corpora. The r5 switch was
# binary (any duplication → join-expansion); mid-r6 flipped it to a
# per-list frame-size bound after a warm-state measurement showed the
# numpy emission at ~51 s vs join 211 s at sf100. The r6 FINAL sweep
# (cold sessions, controlled A/B against the r5 tree on identical data)
# REVERSED that: sf100's 1.1e9-pair answer took 445–768 s through the
# pandas emission (the whole answer materializes in Python workers and
# re-enters the JVM through Arrow — fault-bound on this microVM and
# wildly variance-prone) vs a stable 213 s through the join expansion
# (value-level pairs leave pandas at u-scale; the answer only ever
# exists inside whole-stage codegen). The bound is therefore on the
# TOTAL estimated answer (n²/2·distinct), not per-list: measured rates
# (pandas ≈ 1.8M pairs/s worst-case-cold, join ≈ 5.2M pairs/s + ~45 s
# fixed overhead for its two extra corpus joins) cross at ~1.2e8 pairs.
# Below 1e8 the pandas path wins (and a 2×-duplicated corpus — est ≈ n —
# stays pandas up to 100M rows); above it the join expansion engages.
# Forced in tests via monkeypatch (-1 = always join) so both paths stay
# property-tested bit-identical.
SEMDEDUP_PANDAS_PAIRS_MAX = 100_000_000
SQ8_LEVELS = 255  # int8 scalar quantization: 256 levels per dimension
ZSCORE_TAU = 3.0  # events_anomaly |z| threshold

# ---- TPC-H-style batch 3 (schema has no partsupp/shipmode/phone: documented
# substitutions — lineitem is the part↔supplier association, nation replaces
# the phone prefix) ------------------------------------------------------------
Q8_REGION = "ASIA"
Q8_NATION = "NATION_1"  # market-share numerator nation
Q9_PART_WORD = "widget"  # p_name LIKE %word%
Q16_EXCL_BRAND = "Brand#1"
Q16_SIZES = [1, 5, 10, 15, 20, 25]
Q17_BRAND = "Brand#3"
Q17_QTY_FRAC = 0.5  # quantity < frac * per-part avg quantity
Q22_DATE_LO = "1997-07-01"  # dormancy window
Q22_DATE_HI = "1998-01-01"

# ---- TPC-H-style batch 4 (r8 — completes the 22-query suite). No partsupp
# in the schema: supply cost = MIN observed lot price per (part, supplier)
# lineitem pair, availability = quantity shipped after the target year
# (documented substitutions, mirrored verbatim in the DuckDB oracles) -----------
Q2_TYPE = "SMALL"  # p_type equality filter
Q2_MAX_SIZE = 10  # p_size <= this
Q2_REGION = "EUROPE"
Q2_TOPN = 100  # output rows (total order, so the cut is deterministic)
Q11_NATION = "NATION_3"
Q11_FRACTION = 0.001  # part value > fraction × national total value
Q20_PART_WORD = "gear"  # p_name LIKE %word%
Q20_YEAR = 1997  # shipped-quantity year
Q20_NATION = "NATION_5"
Q20_AVAIL_FRAC = 0.5  # post-year qty > frac × in-year qty
# Family searches ann_recall_families builds at once (read at call time).
# With two in flight one family's straggler tail back-fills with the
# next family's tasks at bounded shuffle/write churn. Twelve measured ~10%
# faster cold on an idle 32-core host, but 8x slower (19.8 -> 160.0 s) in
# a loaded 32-core run, where each job chain's stall multiplies the
# others'.
FAMILY_RECALL_THREADS = 2
