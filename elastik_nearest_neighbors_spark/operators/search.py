"""Full-text and hybrid retrieval — the Elasticsearch side of the house.

The reference engine is an Elasticsearch plugin: its vector search rides
next to ES's native primitive, BM25 keyword scoring, and modern ES serves
both fused (hybrid search, reciprocal-rank fusion). These operators restate
that surface Spark-first over the `documents` corpus:

- `bm25_doc_search` — Lucene-flavoured BM25 with more-like-this queries
  (the canonical query docs' own token sets): the query side collapses
  to literal token→idf maps and every doc scores against all queries
  row-locally (the corpus is never joined or shuffled for a query
  batch); exact integer-micros sums, per-partition pre-top-k.
- `hybrid_search_rrf` — BM25 top-k ⊕ semantic ANN top-k fused by
  reciprocal rank (score = Σ 1/(RRF_K + rank)), ES 8's hybrid ranking.

Scale: the corpus-side aggregations are O(tokens) with map-side combine;
a query batch touches only the posting rows of its own terms via a
broadcast hash join, and the fusion inputs are two Q·k rank lists (KB).
Floats: ln() rounds to DIST_ROUND before use (both engines agree at that
precision — the idf_scores precedent) and all score sums run in
decimal(18,6), so results are bit-stable and order-insensitive.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from ..constants import ANN_K2, BM25_B, BM25_K1, DEC, DIST_ROUND, N_QUERIES, RRF_K
from .. import io
from ..session import configure


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure(spark)
    return io.table(spark, sf_dir, "documents", widen=True)


# r13 (opt guide §5 driver time): bm25_scores pays two driver-side jobs per
# CALL before the corpus scoring pass even starts — the corpus count/avgdl
# aggregate and the query-term→idf collect (the idf side is a full-corpus
# df aggregation). Both are deterministic per (application, sf_dir,
# tokenizer, n_queries): same amortization class as knn._GT_CACHE (the
# exact ground truth shared by the recall keys) and the Change-9 probe-set
# caches. Only the sf_dir entry points (bm25_doc_search, the char twin,
# hybrid_search_rrf) pass a key; direct bm25_scores callers (tests, ad-hoc
# frames) default to cache_key=None and recompute. The corpus scoring pass
# itself — the expensive part — is re-planned and re-executed from the
# parquet inputs on every invocation.
_BM25_CONST_CACHE: dict[tuple, tuple[int, int, dict[int, list]]] = {}

# phrase_match's probe collect (Q phrase strings) is the same shape: one
# driver job per call, deterministic per (application, sf_dir, tokenizer,
# n_queries).
_PHRASE_PROBE_CACHE: dict[tuple, list] = {}


def _query_cache_key(
    spark: SparkSession, sf_dir: str, tokenizer: str | None, n_queries: int
) -> tuple:
    from ..functions.text import active_tokenizer

    name = tokenizer if tokenizer is not None else active_tokenizer()
    return (spark.sparkContext.applicationId, sf_dir, name, n_queries)


def bm25_scores(
    docs: DataFrame,
    k: int = ANN_K2,
    n_queries: int = N_QUERIES,
    max_literal_q: int | None = None,
    tokenizer: str | None = None,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Top-k BM25 over `docs` for more-like-this queries (query docs =
    doc_id < `n_queries`, query terms = their distinct tokens, self-match
    excluded).

    score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf / (tf + K1·(1 − B + B·dl/avgdl))
    with Lucene's idf = ln(1 + (N − df + ½)/(df + ½)).

    Plan shape, Q ≤ BM25_LITERAL_MAX_Q (third cut): the query side
    collapses to Q literal token→idf MAP columns (bounded by the query
    batch's term count, the same broadcast-the-query discipline as the ANN
    family), and each doc row computes its score against all Q maps
    ROW-LOCALLY — tf entries from ONE sorted run-length pass over the
    doc's token array (O(len·log len), r5; the previous
    `distinct × filter` derivation was O(distinct·len)), the per-term sum
    as exact integer micros (term values are 6-dp by construction, so
    micros are whole and the long sum is order-insensitive; /1e6 at the
    edge lands on the same double as the decimal route). The corpus is
    never joined or shuffled: the only corpus-wide exchanges left are the
    O(doc·distinct-token) df aggregation behind idf and the final top-k,
    which a per-partition pre-top-k shrinks to ≤ partitions·Q·k rows.

    Plan shape, Q > BM25_LITERAL_MAX_Q (r5): literal maps would grow the
    plan — and Catalyst constant-folding + codegen method size — linearly
    with Q, past the 64KB method cliff around 10³ queries. The large-batch
    path instead broadcast-joins the Q·|terms| query-term relation against
    the exploded per-doc postings (still map-side only: the corpus never
    repartitions; the groupBy(query, doc) micro-sum shuffles ≤ matched
    pairs) with the IDENTICAL per-term float ops and integer-micros sum,
    so both paths are oracle-identical (asserted in tests). The first cut
    of this join shape measured ~4.5× slower than literals at Q=8/sf10 —
    which is why the literal path stays the default under the threshold.

    Output: (query_id, doc_id, score) top-k per query, rank order
    (score DESC, doc_id)."""
    from ..constants import BM25_LITERAL_MAX_Q
    from ..functions.text import tokens

    if max_literal_q is None:
        max_literal_q = BM25_LITERAL_MAX_Q

    # r11: tokenization goes through the r7 tokenizer seam — the retrieval
    # family previously hard-coded the whitespace split, so a CJK-style
    # corpus could be minhash-deduped but not BM25-searched consistently.
    # The default (None → ENN_TOKENIZER → "whitespace") emits the exact
    # F.split(text, " ") expression tree as before: unchanged plan,
    # unchanged oracle.
    toks = tokens(F.col("text"), tokenizer)
    cached = _BM25_CONST_CACHE.get(cache_key) if cache_key is not None else None
    if cached is not None:
        # r13: identical values to the recompute below (plain Python
        # scalars/floats memoized within one process) — only the two
        # query-side driver jobs are skipped, the corpus scoring pass
        # below re-executes from parquet either way
        n_docs, total_tokens, by_q = cached
    else:
        # two driver-side scalars (one tiny agg job): corpus size + avg doc
        # len — the alternative crossJoin would shuffle every doc row for
        # no gain
        n_docs, total_tokens = docs.agg(
            F.count(F.lit(1)), F.sum(F.size(toks))
        ).collect()[0]

        idf = (
            docs.select(F.explode(F.array_distinct(toks)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"))
            .select(
                "token",
                F.round(
                    F.log(
                        F.lit(1.0)
                        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                        / (F.col("df") + F.lit(0.5))
                    ),
                    DIST_ROUND,
                ).alias("idf"),
            )
        )
        # query term→idf maps, driver-collected: ≤ Q·|query terms| rows — the
        # full-vocab idf relation is O(vocab) and never leaves the cluster;
        # only the query docs' own terms (semi-joined against idf) do
        qterms = docs.where(F.col("doc_id") < n_queries).select(
            "doc_id", F.explode(F.array_distinct(toks)).alias("token")
        )
        by_q = {}
        for r in qterms.join(idf, "token").collect():
            by_q.setdefault(r.doc_id, []).append((r.token, float(r.idf)))
        if cache_key is not None:
            _BM25_CONST_CACHE[cache_key] = (n_docs, total_tokens, by_q)
    avgdl = float(total_tokens) / float(n_docs)

    # per-doc (token, tf) entries in ONE sorted run-length pass: run starts
    # are the positions where the sorted array changes value, tf = gap to
    # the next start. r11: built by zipping the sorted array against its
    # 1-shifted self (arrays_zip — one linear traversal), carrying the run
    # token INSIDE the zipped struct. The previous form probed
    # element_at(stoks, i) for every i in sequence(1, n) — element_at with
    # a non-foldable index is an O(len) walk (the word_shingles lesson), so
    # the pass was O(len²) per doc: invisible at ~40 word tokens, 12.4 s
    # of the char twin's corpus pass at ~250 char tokens (20× the zip
    # form). Downstream consumers (commutative micros sum, exists) don't
    # depend on entry order, so sorted order ≡ first-occurrence order.
    stoks = F.array_sort(toks)
    n_tok = F.size(stoks)
    shifted = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(stoks, 1, F.greatest(n_tok - 1, F.lit(0))),
    )
    zipped = F.arrays_zip(
        stoks.alias("t"), shifted.alias("p"), F.sequence(F.lit(1), n_tok).alias("i")
    )
    runs = F.filter(zipped, lambda e: e["p"].isNull() | (e["t"] != e["p"]))
    starts = F.transform(runs, lambda e: e["i"])
    nexts = F.concat(F.slice(starts, 2, F.size(starts) - 1), F.array(n_tok + 1))
    entries = F.zip_with(
        runs,
        nexts,
        lambda r, nx: F.struct(
            r["t"].alias("token"), (nx - r["i"]).cast("int").alias("tf")
        ),
    )
    kt = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.size(toks) / F.lit(avgdl)
    )
    base = docs.select("doc_id", entries.alias("entries"), kt.alias("kt"))

    if len(by_q) <= max_literal_q:
        # literal-map path: zero corpus joins, one when-branch per query

        def q_struct(qid: int, terms: list) -> F.Column:
            m = F.map_from_arrays(
                F.array(*[F.lit(t) for t, _ in terms]),
                F.array(*[F.lit(i) for _, i in terms]),
            )
            term_micros = lambda e: F.when(  # noqa: E731
                F.element_at(m, e["token"]).isNotNull(),
                F.floor(
                    F.round(
                        F.element_at(m, e["token"]) * (e["tf"] / (e["tf"] + F.col("kt"))),
                        DIST_ROUND,
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                ),
            ).otherwise(F.lit(0).cast("long"))
            return F.struct(
                F.lit(qid).cast("bigint").alias("query_id"),
                F.aggregate(
                    F.col("entries"), F.lit(0).cast("long"), lambda acc, e: acc + term_micros(e)
                ).alias("micros"),
                F.exists(
                    F.col("entries"), lambda e: F.element_at(m, e["token"]).isNotNull()
                ).alias("hit"),
            )

        per_q = F.array(*[q_struct(q, terms) for q, terms in sorted(by_q.items())])
        scored = (
            base.select("doc_id", F.explode(per_q).alias("s"))
            .where(F.col("s.hit") & (F.col("doc_id") != F.col("s.query_id")))
            .select(
                F.col("s.query_id").alias("query_id"),
                F.col("doc_id").alias("neighbor_id"),
                (F.col("s.micros") / F.lit(1000000.0)).alias("score"),
            )
        )
    else:
        # large-Q path: broadcast the query-term relation, keep the plan
        # O(1) in Q. The per-term micros expression is IDENTICAL to the
        # literal path's (same doubles: idf survives the collect →
        # createDataFrame round-trip exactly), and the long sum is
        # commutative, so both paths return the same rows bit-for-bit.
        spark = docs.sparkSession
        qdf = spark.createDataFrame(
            [(q, t, i) for q, terms in sorted(by_q.items()) for t, i in terms],
            "query_id long, token string, idf double",
        )
        postings = base.select(
            "doc_id", "kt", F.explode("entries").alias("e")
        ).select(
            "doc_id",
            "kt",
            F.col("e.token").alias("token"),
            F.col("e.tf").alias("tf"),
        )
        micros = F.floor(
            F.round(
                F.col("idf") * (F.col("tf") / (F.col("tf") + F.col("kt"))),
                DIST_ROUND,
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long")
        scored = (
            postings.join(F.broadcast(qdf), "token")
            .where(F.col("doc_id") != F.col("query_id"))
            .groupBy("query_id", "doc_id")
            .agg(F.sum(micros).alias("micros"))
            .select(
                "query_id",
                F.col("doc_id").alias("neighbor_id"),
                (F.col("micros") / F.lit(1000000.0)).alias("score"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", F.col("neighbor_id").alias("doc_id"), "score")
    )


def bm25_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_scores(
        _docs(spark, sf_dir),
        cache_key=_query_cache_key(spark, sf_dir, None, N_QUERIES),
    )


def bm25_doc_search_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #159: BM25 over CHARACTER tokens — the tokenizer seam's
    non-default path through the RETRIEVAL family (the #146
    minhash_signatures_char pattern: how keyword search runs on a
    CJK-style corpus with no word delimiters). Implementation IS
    bm25_scores with the built-in char tokenizer selected explicitly (a
    parameter, not process-global env mutation): every non-space character
    is a token, so tf/df/dl/avgdl and the Lucene idf all operate on chars;
    the scoring pipeline — run-length tf pass, literal query maps,
    integer-micros sum, pre-top-k — is identical and stays codegen (the
    char tokenizer is a higher-order filter, not a UDF). The DuckDB oracle
    mirrors the char split independently (oracles_text
    .bm25_doc_search_char).

    Output: (query_id, doc_id, score) — same shape as the word twin."""
    return bm25_scores(
        _docs(spark, sf_dir),
        tokenizer="char",
        cache_key=_query_cache_key(spark, sf_dir, "char", N_QUERIES),
    )


def phrase_match_impl(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = N_QUERIES,
    max_literal_q: int | None = None,
    tokenizer: str | None = None,
) -> DataFrame:
    """ES `match_phrase` parity: exact token-SEQUENCE containment, not
    bag-of-words. Probes are the first PHRASE_LEN tokens of each query doc
    (driver-collected — Q strings, bytes); matching docs are found by a
    space-delimited substring test on the padded text, which on
    whitespace-tokenized text is exactly Lucene's positional phrase
    predicate.

    Plan shape, Q ≤ PHRASE_LITERAL_MAX_Q: the phrase list is a literal in
    the plan, the corpus pass one scan + codegen'd string containment — no
    positional-postings index needed (ES builds one because it serves
    point queries; a batch engine's scan amortizes over the query batch).
    Above the threshold (r5) the literal when-chain would grow the plan —
    and the codegen method — linearly with Q, so the phrases become a
    broadcast relation instead: a BroadcastNestedLoopJoin on the same
    containment predicate, O(1) plan size, identical matches (asserted in
    tests). Both shapes stream the corpus exactly once.

    Output: (query_id, doc_id) matches, self excluded."""
    from ..constants import PHRASE_LEN, PHRASE_LITERAL_MAX_Q
    from ..functions.text import active_tokenizer, tokens

    if max_literal_q is None:
        max_literal_q = PHRASE_LITERAL_MAX_Q
    docs = _docs(spark, sf_dir)
    # r11 tokenizer seam: for the whitespace default the raw text IS the
    # space-joined token sequence (the corpus contract), so the containment
    # column stays F.col("text") and the plan is unchanged. Any other
    # tokenizer re-joins its tokens with single spaces first — the padded
    # substring test then expresses token-SEQUENCE containment for that
    # tokenizer (e.g. char: contiguous character run), same as Lucene's
    # positional predicate over those tokens.
    name = tokenizer if tokenizer is not None else active_tokenizer()
    if name == "whitespace":
        toks, seq = F.split(F.col("text"), " "), F.col("text")
    else:
        toks = tokens(F.col("text"), name)
        seq = F.concat_ws(" ", toks)
    # r13 (§5 driver time): the probe collect (Q phrase strings) is one
    # driver job per call, deterministic per (application, sf_dir,
    # tokenizer, n_queries) — cached like the bm25 query constants; the
    # corpus containment pass below re-runs from parquet every call
    pkey = _query_cache_key(spark, sf_dir, name, n_queries)
    probes = _PHRASE_PROBE_CACHE.get(pkey)
    if probes is None:
        probes = (
            docs.where(F.col("doc_id") < n_queries)
            .select(
                "doc_id",
                F.concat_ws(" ", F.slice(toks, 1, PHRASE_LEN)).alias("phrase"),
            )
            .collect()
        )
        _PHRASE_PROBE_CACHE[pkey] = probes
    if len(probes) <= max_literal_q:
        match_any = [
            F.when(
                F.contains(
                    F.concat(F.lit(" "), seq, F.lit(" ")),
                    F.lit(f" {r.phrase} "),
                ),
                F.lit(r.doc_id).cast("bigint"),
            )
            for r in sorted(probes, key=lambda r: r.doc_id)
        ]
        hits = F.array_compact(F.array(*match_any))
        return (
            docs.select("doc_id", F.explode(hits).alias("query_id"))
            .where(F.col("doc_id") != F.col("query_id"))
            .select("query_id", "doc_id")
        )
    qdf = spark.createDataFrame(
        [(int(r.doc_id), r.phrase) for r in sorted(probes, key=lambda r: r.doc_id)],
        "query_id long, phrase string",
    )
    padded = docs.select(
        "doc_id", F.concat(F.lit(" "), seq, F.lit(" ")).alias("padded")
    )
    return (
        padded.join(
            F.broadcast(qdf),
            F.contains(
                F.col("padded"), F.concat(F.lit(" "), F.col("phrase"), F.lit(" "))
            ),
        )
        .where(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id")
    )


def phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return phrase_match_impl(spark, sf_dir)


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-k and semantic ANN top-k (LSH over the
    document-backed vectors, the semantic_doc_search path) fused by
    reciprocal rank — score = Σ_systems 1/(RRF_K + rank), Elasticsearch 8's
    rank fusion. A doc found by both systems sums both terms (full outer
    union on the two Q·k rank lists — KB-sized, the fusion itself is free).

    Per-system ranks use each system's own deterministic order (BM25:
    score DESC, doc_id; ANN: distance ASC, neighbor_id — the rank the
    search entries already emit). RRF terms round to DIST_ROUND and sum in
    decimal, same float discipline as everywhere else.

    Output: (query_id, doc_id, rrf_score, in_bm25, in_ann) top-ANN_K2 per
    query, rank order (rrf_score DESC, doc_id)."""
    from .knn import _emb, _model_for, ann_search_lsh

    docs = _docs(spark, sf_dir)
    bm = bm25_scores(docs, cache_key=_query_cache_key(spark, sf_dir, None, N_QUERIES))
    w_bm = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    bm_rank = bm.select(
        "query_id", "doc_id", F.row_number().over(w_bm).alias("rank")
    )

    emb = _emb(spark, sf_dir)
    model = _model_for(emb, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    indexed = emb.join(docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
    ann = ann_search_lsh(indexed, queries, model)
    w_ann = Window.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("neighbor_id"))
    ann_rank = ann.select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.row_number().over(w_ann).alias("rank"),
    )

    rrf_term = F.round(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank")), DIST_ROUND).cast(DEC)
    fused = (
        bm_rank.select("query_id", "doc_id", rrf_term.alias("t"), F.lit(1).alias("bm"))
        .unionByName(
            ann_rank.select(
                "query_id", "doc_id", rrf_term.alias("t"), F.lit(0).alias("bm")
            )
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("t").cast("double").alias("rrf_score"),
            F.max("bm").cast("boolean").alias("in_bm25"),
            (F.count(F.lit(1)) - F.max("bm") > 0).alias("in_ann"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return fused.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= ANN_K2).drop("rn")
