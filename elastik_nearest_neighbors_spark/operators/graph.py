"""Graph-expanded ANN — the HNSW-class capability re-expressed for Spark's
execution model (SURVEY §7 "later rounds"; the reference itself ships only
LSH, so this is the repo's scale-path extension alongside IVF/PQ).

A literal HNSW port (per-query greedy walks over a mutable layered graph)
is the wrong shape for a 1000-executor batch engine: walks are sequential,
pointer-chasing, and driver-hostile. What transfers is the *idea* — a
precomputed neighborhood graph recovers candidates that partition-local
probing misses. Spark-first restatement:

- `graph_edges`: an approximate kNN graph built from OVERLAPPING coarse
  partitions — every vector joins its GRAPH_PROBES nearest IVF lists, and
  edges are ranked within the union of co-memberships. The overlap is what
  creates CROSS-LIST edges across Voronoi boundaries (the standard
  overlapping-blocks trick for distributed kNN-graph construction; one
  shuffle on list_id, pair step bounded by Σ (GRAPH_PROBES·m)² with
  m ≈ N/NLIST and NLIST ∝ √N).
- `ann_search_graph`: seed each query with the members of its single
  nearest list (nprobe=1 — the cheapest possible probe), then expand one
  hop along the graph edges and exact-rerank seeds ∪ neighbors. The hop
  reaches vectors in OTHER lists that share an edge with a seed — exactly
  the boundary-crossing recall that nprobe=1 alone loses, at the cost of
  one broadcast hash join against the edge table instead of probing more
  lists. At 100 TB the edge table is written partitioned by vec_a and the
  per-query expansion touches ≤ seeds·degree rows.

Determinism contract (mirrored in oracles_vector._graph_cand_cte): same
driver-side quantizer as ivf.py, distances rounded to DIST_ROUND before
every rank, ties break on the smaller id.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..constants import (
    ANN_K2,
    DIST_ROUND,
    GRAPH_DEGREE,
    GRAPH_LIST_TARGET,
    GRAPH_PROBES,
    GRAPH_SEED_K,
    IVF_NLIST,
    IVF_SAMPLE,
    N_QUERIES,
)
from .. import io
from ..functions.vector import as_double
from .ivf import IvfModel, _emb, ann_search_ivf, model_for, probe_pairs
from .knn import exact_scores, top_k

# graph edges, materialized once per (SparkContext, sf_dir) — the search
# entry and the recall entry both consume them; same localCheckpoint-once
# pattern as ivf.list_assignments / knn.exact_ground_truth
_EDGE_CACHE: dict[tuple[str, str], DataFrame] = {}

_GRAPH_MODEL_CACHE: dict[str, IvfModel] = {}


def _uri_emb(sf_dir: str) -> DataFrame:
    """embeddings as a Spark DataFrame for a URI-addressed store — the r6
    portability seam: driver-local pyarrow/DuckDB reads are a dead end on
    s3a://hdfs:// paths, so fit-time statistics route through io.table's
    scheme-agnostic Hadoop-FS read instead."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"fitting from URI store {sf_dir!r} needs an active SparkSession"
        )
    return io.table(spark, sf_dir, "embeddings")


def _corpus_rows(sf_dir: str) -> int:
    """Row count of the embeddings table: parquet footer metadata locally
    (no data read), a Spark count (footer-metadata-only under the parquet
    source) on URI stores."""
    if io.is_uri(sf_dir):
        return _uri_emb(sf_dir).count()
    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(sf_dir, "embeddings.parquet")).num_rows


def _corpus_distinct(sf_dir: str) -> int:
    """Exact distinct-embedding count. Locally one DuckDB aggregate
    (DISTINCT on the LIST value directly — native list hashing; the
    ::varchar formulation paid a per-row string render, 6× slower at 2M
    rows). On URI stores a Spark distinct().count() — one shuffle keyed on
    the vector value, exact like the local path so both fits pick the same
    nlist."""
    if io.is_uri(sf_dir):
        return _uri_emb(sf_dir).select("embedding").distinct().count()
    import duckdb

    p = os.path.join(sf_dir, "embeddings.parquet")
    return duckdb.sql(f"SELECT count(DISTINCT embedding) FROM '{p}'").fetchone()[0]


def graph_model_for(sf_dir: str) -> IvfModel:
    """BUILD quantizer: lists scale with N (≈ N / GRAPH_LIST_TARGET, floor
    IVF_NLIST) so per-list membership — and with it the pair step per
    vector — stays FLAT as data grows; total build work is linear in N,
    which is the floor for an all-vectors graph. Driver-fit from the same
    deterministic sample rule as the serving quantizer, so the oracle
    builder regenerates bit-identical centroid literals.

    Size: lists ∝ N means the MODEL is O(N) — L × D float64 is ~4 MB at
    sf100 (2M vectors), ~40 MB at 20M, ~2 GB at 10^9. The log-depth
    hierarchy (ivf.IvfModel) bounds the assignment COST (~N·log N), not
    the model SIZE: serving closes over the whole model, and above
    constants.IVF_CLOSURE_MAX_BYTES (512 MiB, past ~2.6·10^8 vectors at
    D = 64) ivf's assign_udf / probe_udf raise ValueError."""
    m = _GRAPH_MODEL_CACHE.get(sf_dir)
    if m is None:
        n = _corpus_rows(sf_dir)
        nlist = max(IVF_NLIST, n // GRAPH_LIST_TARGET)
        if nlist > IVF_NLIST:
            # Scale lists with the DISTINCT vector count, not raw rows
            # (r5, learned at the 20M-vector step-up: a 1000×-duplicated
            # corpus made lists ∝ N give one list per distinct value —
            # a degenerate graph — while per-list membership exploded
            # with the duplication factor anyway). Content diversity is
            # what SemDeDup-style cluster counts should track; duplicate
            # mass rides along inside each list, where the r5 collapse
            # keeps the pair work u²-bounded. One driver-side DuckDB
            # aggregate locally, a Spark distinct-count on URI stores
            # (r6; at 100 TB approx_count_distinct would do — exact kept
            # here so local and URI fits agree). Duplicate-free data
            # (every gated SF and sf0.1/sf1): distinct == n, bit-identical
            # model.
            nlist = max(IVF_NLIST, _corpus_distinct(sf_dir) // GRAPH_LIST_TARGET)
        if nlist == IVF_NLIST:
            m = model_for(sf_dir)  # coincides with the serving quantizer
        else:
            m = IvfModel.fit_path(sf_dir, nlist=nlist, sample_n=max(IVF_SAMPLE, 4 * nlist))
        _GRAPH_MODEL_CACHE[sf_dir] = m
    return m


def local_knn_groups(mem: DataFrame, k: int) -> DataFrame:
    """Within-group exact kNN, numpy-local: `mem` is (vec_id, v, list_id)
    membership rows; per list_id group each member's k nearest co-members
    are ranked by (rounded distance, vec_b) in an applyInPandas batch.

    This is the r4 scale pattern (learned at sf10): the obvious pair-join —
    co-member pairs joined back to both vectors — ships TWO 64-dim vectors
    per CANDIDATE PAIR through the shuffle: ~200 GB for 200k vectors (it
    filled the disk). Shipping each vector once per MEMBERSHIP row makes
    the shuffle linear in |mem|, and the m×m distance work runs locally in
    numpy (row-chunked, see _chunked_sq_dists). Distances use the same
    direct-subtraction numpy math as IvfModel._dists (rounded to
    DIST_ROUND), which the DuckDB oracles already match bit-for-bit.

    Output: (vec_a, vec_b, distance), ≤k rows per (list group, vec_a).
    Single-membership callers (nprobe=1: ivf.knn_graph) get disjoint groups
    — the per-group top-k IS the global top-k; multi-membership callers
    (build_graph_edges) must distinct + re-rank across groups.

    Exact-duplicate collapse (r5, learned at 20M vectors): corpora with
    viral duplicates — and replicated benchmarks — put d copies of a
    vector in one list, and the dense m×m matrix is then QUADRATIC in d
    (a 1000×-duplicated 20M-vector run sat >30 min in this operator).
    When a group holds duplicates, the distance matrix shrinks to the u
    distinct values (u×u), and each member's top-k reconstructs exactly:
    candidates group-wise at the group's distance, at most k+1 smallest
    ids per value group (only those can reach a top-k that breaks ties on
    id), boundary groups included through the kth-distance tie. Work
    drops from O(m²) to O(u² + m·k·log) with bit-identical output
    (equality property-tested against the dense path)."""
    from .ivf import _chunked_sq_dists, groups_by_inv, unique_rows

    def _dense(ids: "np.ndarray", x: "np.ndarray", acc_a, acc_b, acc_d) -> None:
        # Whole-matrix top-k, no per-member Python loop (2M interpreter
        # iterations dominated the 2M-distinct step-up): permute COLUMNS
        # into ascending-id order, then a stable row argsort orders by
        # (distance, vec_b) — equal distances keep column order, which IS
        # id order. Self-exclusion: the member's own column pinned to +inf
        # (never selected: take ≤ m-1 and only self is inf in a row).
        m = len(ids)
        take = min(k, m - 1)
        if take <= 0:
            return
        d = np.round(np.sqrt(_chunked_sq_dists(x, x)), DIST_ROUND)
        perm = np.argsort(ids, kind="stable")
        ids_s = ids[perm]
        ds = d[:, perm]
        inv_perm = np.empty(m, dtype=np.int64)
        inv_perm[perm] = np.arange(m)
        ds[np.arange(m), inv_perm] = np.inf
        rows = max(1, (64 << 20) // max(1, m * 8))
        for i in range(0, m, rows):
            order = np.argsort(ds[i : i + rows], axis=1, kind="stable")[:, :take]
            acc_a.append(np.repeat(ids[i : i + rows], take))
            acc_b.append(ids_s[order].ravel())
            acc_d.append(np.take_along_axis(ds[i : i + rows], order, axis=1).ravel())

    def _collapsed(
        ids: "np.ndarray", x: "np.ndarray", uvals, inv, acc_a, acc_b, acc_d
    ) -> None:
        # Per-VALUE-group work, not per-member: a member's result depends
        # only on its value group and on whether its own id sits inside
        # that group's k+2 smallest-id cap (self-removal reach). Every
        # member OUTSIDE the cap therefore shares one generic neighbor
        # list — computed once and replicated by repeat/tile — so the
        # Python-level loop is O(u·k) instead of O(m) (a 1000×-duplicated
        # 20M-vector run spent ~200 s just iterating members here).
        u = len(uvals)
        d = np.round(np.sqrt(_chunked_sq_dists(uvals, uvals)), DIST_ROUND)
        groups = groups_by_inv(ids, inv, u)
        caps = [g[: k + 2] for g in groups]  # k+2 covers self-removal
        sizes = np.array([len(g) for g in groups], dtype=np.int64)

        def _topk(gi: int, self_id) -> tuple | None:
            # ≤k (neighbor id, distance) rows for a member of value group
            # gi; self_id=None means the member's id is outside caps[gi]
            # (its removal can't change the cap's first k+1 ids).
            row = d[gi]
            gorder = np.argsort(row, kind="stable")
            avail = sizes[gorder] - (gorder == gi)
            cum = np.cumsum(avail)
            need = int(np.searchsorted(cum, k))
            if need >= u:
                sel = gorder
            else:
                bdist = row[gorder[need]]
                last = need
                while last + 1 < u and row[gorder[last + 1]] == bdist:
                    last += 1
                sel = gorder[: last + 1]
            cd_l, cid_l = [], []
            for j in sel:
                gj = caps[j]
                if j == gi and self_id is not None:
                    gj = gj[gj != self_id]
                gj = gj[: k + 1]
                if not len(gj):
                    continue
                cd_l.append(np.full(len(gj), row[j]))
                cid_l.append(gj)
            if not cd_l:
                return None
            cd = np.concatenate(cd_l)
            cid = np.concatenate(cid_l)
            order = np.lexsort((cid, cd))[:k]
            return cid[order], cd[order]

        for g in range(u):
            grp = groups[g]
            cap = caps[g]
            for sid in cap:  # ≤ k+2 members whose id is inside the cap
                res = _topk(g, int(sid))
                if res is None:
                    continue
                cid, cd = res
                acc_a.append(np.full(len(cid), sid))
                acc_b.append(cid)
                acc_d.append(cd)
            rest = grp[len(cap):]
            if len(rest):
                res = _topk(g, None)
                if res is not None:
                    cid, cd = res
                    acc_a.append(np.repeat(rest, len(cid)))
                    acc_b.append(np.tile(cid, len(rest)))
                    acc_d.append(np.tile(cd, len(rest)))

    def per_list(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        x = np.array(pdf["v"].tolist(), dtype=np.float64)
        acc_a: list = []
        acc_b: list = []
        acc_d: list = []
        uvals, inv, _ = unique_rows(x)
        if len(uvals) == len(ids):
            _dense(ids, x, acc_a, acc_b, acc_d)
        else:
            _collapsed(ids, x, uvals, inv, acc_a, acc_b, acc_d)
        if not acc_a:
            return pd.DataFrame(
                {
                    "vec_a": np.empty(0, dtype=np.int64),
                    "vec_b": np.empty(0, dtype=np.int64),
                    "distance": np.empty(0, dtype=np.float64),
                }
            )
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(acc_a).astype(np.int64, copy=False),
                "vec_b": np.concatenate(acc_b).astype(np.int64, copy=False),
                "distance": np.concatenate(acc_d),
            }
        )

    return mem.groupBy("list_id").applyInPandas(
        per_list, "vec_a long, vec_b long, distance double"
    )


def build_graph_edges(emb: DataFrame, model) -> DataFrame:
    """(vec_a, vec_b, distance): for every vector, its GRAPH_DEGREE nearest
    neighbors among vectors sharing ≥1 of its GRAPH_PROBES nearest lists.

    Each vector is shipped to its GRAPH_PROBES list groups (a 2N-row
    shuffle — linear, vector travels twice total) and the within-group kNN
    runs numpy-locally (local_knn_groups); per-group m ≈ 2N/L is held FLAT
    by lists ∝ N. Per-list top-degree candidates union → distinct → global
    top-degree window; correct because a vector's true top-degree within
    its co-member union is contained in the union of its per-list
    top-degrees."""
    mem = probe_pairs(
        emb, model, GRAPH_PROBES, out_id="vec_id",
        extra=(as_double(F.col("embedding")).alias("v"),),
    )
    cand = local_knn_groups(mem, GRAPH_DEGREE).distinct()
    w = Window.partitionBy("vec_a").orderBy(F.asc("distance"), F.asc("vec_b"))
    return cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= GRAPH_DEGREE).drop("rn")


def graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _EDGE_CACHE.get(key)
    if df is None:
        df = build_graph_edges(_emb(spark, sf_dir), graph_model_for(sf_dir)).localCheckpoint(
            eager=True
        )
        _EDGE_CACHE[key] = df
    return df


def _expand_and_rerank(
    index_df: DataFrame,
    query_df: DataFrame,
    seeds: DataFrame,
    edges: DataFrame,
    k: int = ANN_K2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """seeds (query_id, neighbor_id) → 1-hop expansion along `edges` →
    exact-euclidean rerank → top-k. Shared by the in-memory and the
    store-pruned search paths (identical results, same oracle)."""
    # seeds are Q·GRAPH_SEED_K rows — broadcast into the edge expansion so
    # the (huge, vec_a-partitioned) edge table never shuffles
    hop = edges.select(F.col("vec_a").alias("neighbor_id"), "vec_b").join(
        F.broadcast(seeds), "neighbor_id"
    ).select("query_id", F.col("vec_b").alias("neighbor_id"))
    cand = (
        seeds.unionByName(hop)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .distinct()
    )
    return top_k(exact_scores(cand, index_df, query_df, id_col, vec_col), k, "distance")


def ann_search_graph(
    index_df: DataFrame,
    query_df: DataFrame,
    edges: DataFrame,
    model,
    k: int = ANN_K2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Seed (nprobe=1 list members, top GRAPH_SEED_K) → expand 1 hop along
    `edges` → exact-euclidean rerank → top-k.

    Output: (query_id, neighbor_id, distance)."""
    seeds = ann_search_ivf(
        index_df, query_df, model, nprobe=1, k=GRAPH_SEED_K, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    return _expand_and_rerank(index_df, query_df, seeds, edges, k, id_col, vec_col)


def ann_search_graph_beam(
    index_df: DataFrame,
    query_df: DataFrame,
    edges: DataFrame,
    model,
    k: int = ANN_K2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """HNSW-style BEST-FIRST refinement over the kNN graph (SURVEY §2 #129)
    — the layered-search idea restated for batch Spark. Blanket depth-d
    expansion (ann_recall_graph_sweep) walks EVERY frontier candidate's
    out-edges: depth 2 scores ≤ seeds·(1+deg+deg²) candidates per query.
    HNSW's insight is that expanding only the current best few reaches as
    far for a fraction of the work. Per round: take the BEAM_WIDTH best
    not-yet-expanded scored candidates per query, walk just their
    out-edges, exact-score only the unseen targets, merge into the pool.
    BEAM_ROUNDS rounds reach hop distance BEAM_ROUNDS while scoring
    ≤ seeds + rounds·width·degree candidates (522 vs 730 per query at the
    default 16×4 constants — measured STRICTLY above depth-2 recall,
    0.9125 vs 0.875 at sf0.01, at 72% of its scored budget; sweep in
    constants.py, regression guard in tests/test_operators.py).

    Every per-round frame (pool, beam) is Q·≤106 rows — broadcast-sized;
    the edge table is only ever the build side of a broadcast hash join,
    so nothing large shuffles regardless of graph size. Rounds are
    deterministic (rounded distances, id tie-breaks) and fixed in number,
    so the DuckDB oracle unrolls the identical iterations.

    Output: (query_id, neighbor_id, distance)."""
    from ..constants import BEAM_ROUNDS, BEAM_WIDTH

    # r13 (opt guide §2.6/§5): ONE eager barrier per round instead of two.
    # The previously separate `expanded` frame (union of checkpointed beams —
    # its own localCheckpoint job per round) is now a boolean column ON the
    # pool: beam = top-WIDTH of the not-yet-expanded rows, and the round's
    # single checkpoint persists both the new scores and the updated flags.
    # Same candidate set, same distances, same final top-k — the flag is
    # dropped before returning.
    pool = (
        ann_search_ivf(
            index_df, query_df, model, nprobe=1, k=GRAPH_SEED_K, id_col=id_col, vec_col=vec_col
        )
        .select("query_id", "neighbor_id", "distance")
        .withColumn("expanded", F.lit(False))
        .localCheckpoint(eager=True)
    )
    # r14: the beam membership test is a WINDOW over the checkpointed pool,
    # not a self-join. Ranking within (query_id, expanded) groups gives the
    # not-yet-expanded rows exactly the rank the old filtered window gave
    # them (same ordering, same tie-breaks), so `rn <= WIDTH AND ~expanded`
    # IS the beam — both the hop side and the flag update read it from one
    # projection, which drops the old per-round pool⋈beam broadcast join
    # (one BroadcastExchange barrier per round) from the plan.
    w_grp = Window.partitionBy("query_id", "expanded").orderBy(
        F.asc("distance"), F.asc("neighbor_id")
    )
    for _ in range(BEAM_ROUNDS):
        ranked = pool.withColumn("rn", F.row_number().over(w_grp))
        in_beam = ~F.col("expanded") & (F.col("rn") <= BEAM_WIDTH)
        beam = ranked.where(in_beam).select("query_id", "neighbor_id")
        hop = (
            edges.select(F.col("vec_a").alias("neighbor_id"), "vec_b")
            .join(F.broadcast(beam), "neighbor_id")
            .select("query_id", F.col("vec_b").alias("neighbor_id"))
            .where(F.col("neighbor_id") != F.col("query_id"))
            .distinct()
        )
        new = hop.join(pool.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_anti")
        scored_new = exact_scores(new, index_df, query_df, id_col, vec_col).withColumn(
            "expanded", F.lit(False)
        )
        marked = ranked.withColumn("expanded", F.col("expanded") | in_beam).drop("rn")
        # localCheckpoint per round: the pool stays KB-sized but its lineage
        # would otherwise deepen by ~4 joins per round
        pool = marked.unionByName(scored_new).localCheckpoint(eager=True)
    return top_k(pool, k, "distance").drop("expanded")


# ---- registry entries (spark, sf_dir) → DataFrame ---------------------------


def ann_search_graph_beam_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #129: beam-refined graph ANN for the canonical query set."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return ann_search_graph_beam(
        emb, queries, graph_edges(spark, sf_dir), model_for(sf_dir)
    )


def ann_recall_graph_beam_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #130: recall@k of the beam refinement vs exact kNN — on
    the shared metric so the dominance claim (≥ depth-2 recall at ~1/5 the
    scored candidates) is measurable against ann_recall_graph_sweep."""
    from .knn import _recall_of, exact_ground_truth

    ann = ann_search_graph_beam_q(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_of(ann, exact_ground_truth(spark, sf_dir))


def knn_graph_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #113: the overlapping-partition kNN graph itself — the
    cross-list upgrade of #71 knn_graph (whose edges never leave one list)."""
    return graph_edges(spark, sf_dir)


def ann_search_graph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #114: graph-expanded ANN for the canonical query set."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return ann_search_graph(emb, queries, graph_edges(spark, sf_dir), model_for(sf_dir))


# r13 (opt guide §5 driver time): the seed search below ends in an eager
# localCheckpoint barrier + a seed-id collect — two driver-blocking jobs
# per CALL, deterministic per (application, store): each caller's corpus
# is a fixed function of its store (full corpus / surviving corpus after
# the marker-gated patch), the quantizer is the session-cached serving
# model, and ann_search_ivf's top-k tie-breaks are deterministic. Same
# amortization class as knn._GT_CACHE / the Change-9 probe caches: the
# memo holds a KB-sized checkpointed frame (Q·GRAPH_SEED_K rows); the
# pruned edge read + hop + exact re-rank still execute from the store
# on every invocation.
_SEED_CACHE: dict[tuple[str, str], tuple[DataFrame, list]] = {}


def _pruned_store_search(spark: SparkSession, store: str, corpus: DataFrame, model) -> DataFrame:
    """The shared serving tail over a persisted edge store: seed with the
    ORIGINAL serving quantizer over `corpus`, map the seed ids to their
    buckets, read ONLY those directories for the hop, exact-rerank. The
    seed-id collect is Q·GRAPH_SEED_K ints — KB-sized, like the IVF probe
    list. Used by ann_search_graph_store (full corpus), graph_delete and
    graph_rebuild (surviving corpus over the patched / rebuilt store)."""
    from ..sources.index_store import GRAPH_EDGE_BUCKETS, load_graph_buckets

    queries = corpus.where(F.col("vec_id") < N_QUERIES)
    key = (spark.sparkContext.applicationId, store)
    hit = _SEED_CACHE.get(key)
    if hit is None:
        seeds = (
            ann_search_ivf(corpus, queries, model, nprobe=1, k=GRAPH_SEED_K)
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=True)  # feeds the bucket collect AND the hop join
        )
        seed_ids = sorted({r.neighbor_id for r in seeds.select("neighbor_id").distinct().collect()})
        _SEED_CACHE[key] = (seeds, seed_ids)
    else:
        seeds, seed_ids = hit
    buckets = sorted({int(i) % GRAPH_EDGE_BUCKETS for i in seed_ids})
    edges = load_graph_buckets(spark, store, buckets).where(F.col("vec_a").isin(seed_ids))
    return _expand_and_rerank(corpus, queries, seeds, edges)


def ann_search_graph_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph search through the PERSISTED edge layout: edges written
    partitioned by bucket = vec_a mod 64 (sources/index_store), the query
    batch's seed ids mapped to their buckets, and only those directories
    read back for the hop — then the same exact rerank. Result-identical to
    ann_search_graph (same oracle), proving the pruned path is lossless.
    This is the 100 TB shape: the graph is built once offline, and each
    query batch touches ≤ |seed buckets| / 64 of it on disk."""
    from ..sources.index_store import save_graph_edges

    model = model_for(sf_dir)
    emb = _emb(spark, sf_dir)
    out = io.fs_join(io.scratch_dir("graph_store", sf_dir), "data")
    if not io.fs_exists(spark, io.fs_join(out, "_SUCCESS")):
        save_graph_edges(graph_edges(spark, sf_dir), out)
    return _pruned_store_search(spark, out, emb, model)


def graph_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph store DELETE-in-place (r10, #154) — completes the CRUD
    matrix's fourth layout (LSH #152 / IVF #151 / IVFPQ #153 / GRAPH),
    with a DIFFERENT, explicitly weaker contract than its siblings:
    EDGE-PATCH (mark-delete), not rebuild-equivalence. A rebuilt kNN
    graph on the filtered corpus would discover REPLACEMENT neighbors
    for every survivor that lost an edge; no patch can know those
    without re-running construction — which is exactly why HNSW/FAISS
    graph indexes only mark-delete and rebuild periodically. The gated
    contract here is the strongest one a patch can honor, and it is
    deterministic and SQL-checkable: search over the SURVIVING corpus
    (original quantizers, no refit) hopping along the ORIGINAL graph
    minus every edge touching a doomed id. The oracle recomputes that in
    SQL; recall vs exact degrades gracefully with delete fraction and a
    periodic offline rebuild restores it (documented in SURVEY §2).

    Physical purge (GDPR-shaped, like #151-#153): a doomed id appears as
    vec_a in ≤1 bucket (its own) and as vec_b wherever in-edges point at
    it, so touched buckets are found by one column-pruned scan of the
    edge store (vec_a, vec_b only — never the vectors); only those
    ≤ GRAPH_EDGE_BUCKETS directories are rewritten via pruned dynamic
    partition overwrite, emptied dirs removed, doomed rows physically
    gone (not tombstoned — the contract is mark-delete SEMANTICS with
    hard-delete STORAGE). Idempotent across re-runs (marker).

    At 100 TB: the patch cost is O(touched directories) of a store that
    is itself ≤ degree·16 bytes/vector; the search path is the unchanged
    seed-bucket-pruned hop + broadcast rerank.

    Output: (query_id, neighbor_id, distance) top-ANN_K2 per surviving
    query."""
    from ..constants import DELETE_MOD, DELETE_REM
    from ..sources.index_store import save_graph_edges

    model = model_for(sf_dir)
    emb = _emb(spark, sf_dir)
    out = io.scratch_dir("graph_delete", sf_dir)
    store = io.fs_join(out, "data")
    marker = io.fs_join(out, "DELETED")
    if not io.fs_exists(spark, io.fs_join(store, "_SUCCESS")):
        save_graph_edges(graph_edges(spark, sf_dir), store)
    doomed_edge = (F.col("vec_a") % DELETE_MOD == DELETE_REM) | (
        F.col("vec_b") % DELETE_MOD == DELETE_REM
    )
    if not io.fs_exists(spark, marker):
        _purge_edges(spark, store, doomed_edge)
        io.fs_touch(spark, marker)

    # search: surviving corpus + original quantizer seeds + hop over the
    # patched store — the same pruned shape as ann_search_graph_store
    surv = emb.where(F.col("vec_id") % DELETE_MOD != DELETE_REM)
    return _pruned_store_search(spark, store, surv, model)


def _purge_edges(spark: SparkSession, store: str, doomed_edge) -> None:
    """Drop every edge matching `doomed_edge` from a persisted edge store,
    in place: one column-pruned scan finds the buckets holding any doomed
    edge (vec_a-doomed live in the id's own bucket; vec_b-doomed wherever
    in-edges land) — the collect is ≤ GRAPH_EDGE_BUCKETS ints, and only
    those directories get rewritten via index_store.pruned_dynamic_overwrite
    (emptied directories deleted explicitly — stale files would otherwise
    keep matching)."""
    from ..sources.index_store import pruned_dynamic_overwrite

    touched = sorted(
        int(r.bucket)
        for r in io.read_parquet(spark, store)
        .where(doomed_edge)
        .select("bucket")
        .distinct()
        .collect()
    )
    existing = (
        io.read_parquet(spark, store)
        .where(F.col("bucket").isin(touched))
        .select("vec_a", "vec_b", "distance", "bucket")
    )
    patched = existing.where(~doomed_edge)
    pruned_dynamic_overwrite(spark, store, patched, ["bucket"], touched)


def graph_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodic offline graph REBUILD (r11, #158) — the recovery operation
    graph_delete's contract has always pointed at ("recall degrades as
    deletions accumulate; periodic offline rebuild restores it") but that
    r10 left unimplemented and unmeasured. The scenario is pinned where
    mark-delete VISIBLY degrades (constants.GRAPH_REBUILD_MOD: 25% of ids
    purged — measured +0.05 mean recall restored by rebuild at sf0.01;
    1/13 and 1/6 fractions show no gap, so 25% is just inside the
    degradation regime):

    1. the rebuild: fresh edge CONSTRUCTION over the surviving corpus with
       the ORIGINAL build quantizer (no refit — the #151-#155 maintenance
       convention), written as a STATIC overwrite so no pre-rebuild state
       can survive. The operator deliberately does NOT first build or
       patch an "aging" store: a static overwrite clears the destination
       regardless of its contents, so any prior-state step would be dead
       work whose output no gated read ever sees (graph_delete owns the
       patched-state contract between rebuilds);
    2. serving: the same pruned seed-bucket search as every other graph
       path, over the rebuilt store.

    The gated contract is rebuild-equivalence: searching the rebuilt store
    equals fresh construction on the survivors (the oracle constructs that
    graph in SQL) — the replacement-neighbor edges a mark-delete can never
    discover are exactly what the rebuild restores.

    At 100 TB: construction cost is the linear 2N-row list-local build
    (build_graph_edges), paid on the survivor set only and amortized over
    the accumulation window; the alternative — serving the degraded
    mark-delete graph forever — silently loses recall past ~20% deletes.

    Output: (query_id, neighbor_id, distance) top-ANN_K2 per surviving
    query."""
    from ..constants import GRAPH_REBUILD_MOD, GRAPH_REBUILD_REM
    from ..sources.index_store import save_graph_edges

    model = model_for(sf_dir)
    emb = _emb(spark, sf_dir)
    out = io.scratch_dir("graph_rebuild", sf_dir)
    store = io.fs_join(out, "data")
    marker = io.fs_join(out, "REBUILT")
    surv = emb.where(F.col("vec_id") % GRAPH_REBUILD_MOD != GRAPH_REBUILD_REM)
    if not io.fs_exists(spark, marker):
        save_graph_edges(build_graph_edges(surv, graph_model_for(sf_dir)), store)
        io.fs_touch(spark, marker)
    return _pruned_store_search(spark, store, surv, model)


def embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #116: agglomerative embedding clustering — connected
    components over the multiprobe kNN graph's near-dup edges (distance ≤
    GRAPH_CLUSTER_TAU). This is the knn_graph docstring's promised use: the
    graph IS the candidate structure, so clustering costs one edge filter
    plus O(log diameter) label-propagation rounds over degree-bounded
    edges — no new pair generation. The single-linkage analogue of
    dup_clusters on the embedding side (dup_clusters: minhash text graph).

    Output: (vec_id, cluster_id) with cluster_id = min vec_id reachable."""
    from ..constants import GRAPH_CLUSTER_TAU
    from .dedup import _connected_components

    emb = _emb(spark, sf_dir)
    edges = (
        graph_edges(spark, sf_dir)
        .where(F.col("distance") <= GRAPH_CLUSTER_TAU)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    )
    cc = _connected_components(emb.select(F.col("vec_id").alias("doc_id")), edges)
    return cc.select(F.col("doc_id").alias("vec_id"), "cluster_id")


def ann_recall_graph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #115: recall@k of graph-expanded ANN vs exact kNN — the
    graph twin of ann_recall_ivf, so the boundary-crossing hop's recall
    lift over nprobe=1 is measurable on the shared metric."""
    from .knn import _recall_of, exact_ground_truth

    ann = ann_search_graph_q(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_of(ann, exact_ground_truth(spark, sf_dir))


def ann_recall_graph_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #118: recall@k as a function of EXPANSION DEPTH (hops ∈
    0..GRAPH_SWEEP_HOPS) — the graph family's quality/cost curve, the
    analogue of HNSW's ef knob and of the LSH family's (T×B) recall grid.
    Hop 0 is the nprobe=1 seed set; each further hop walks every frontier
    candidate's out-edges once (frontier grows ≤ ×degree per hop and is
    re-deduplicated, so depth d touches O(seeds·degree^d) rows bounded by
    N). One seed job and one edge table feed all depths.

    Output: (hops, query_id, recall) — per-query rows, no cross-row float
    aggregation, bit-stable across engines."""
    from ..constants import GRAPH_SWEEP_HOPS
    from .knn import _recall_of, exact_ground_truth

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    edges = graph_edges(spark, sf_dir)
    gt = exact_ground_truth(spark, sf_dir)
    seeds = (
        ann_search_ivf(emb, queries, model_for(sf_dir), nprobe=1, k=GRAPH_SEED_K)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    out = []
    frontier = seeds
    for hops in range(GRAPH_SWEEP_HOPS + 1):
        if hops > 0:
            hop = edges.select(F.col("vec_a").alias("neighbor_id"), "vec_b").join(
                F.broadcast(frontier), "neighbor_id"
            ).select("query_id", F.col("vec_b").alias("neighbor_id"))
            frontier = frontier.unionByName(hop).distinct().localCheckpoint(eager=True)
        cand = frontier.where(F.col("neighbor_id") != F.col("query_id")).distinct()
        ann = top_k(exact_scores(cand, emb, queries), ANN_K2, "distance").select(
            "query_id", "neighbor_id"
        )
        out.append(_recall_of(ann, gt).select(F.lit(hops).alias("hops"), "query_id", "recall"))
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res
