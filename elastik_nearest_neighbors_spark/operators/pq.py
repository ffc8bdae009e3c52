"""Product quantization (PQ) — the compressed-domain ANN path that
completes the similarity-search family (LSH = reference parity, IVF =
partition-pruned candidate lists, PQ = 100 TB *storage*: 64 float64 dims
become M=4 one-byte codes, a 128× compression, scanned without touching the
raw vectors).

Spark-first shape (mirrors operators/ivf.py):
- the codebook is tiny (M·ksub·dsub float64 ≈ KB): deterministic per-subspace
  Lloyd k-means fit on the driver from the parquet bytes (pyarrow), so the
  DuckDB oracle inlines bit-identical centroid literals.
- `pq_codes` is a narrow Arrow-batched pass: vec → per-subspace nearest
  centroid code; LONG output (vec_id, m, code) — flat scalars.
- `ann_search_pq` is ADC (asymmetric distance computation): the query builds
  its M×ksub table of rounded squared sub-distances DRIVER-side (Q·M·ksub
  rows ≈ KB — the same justified collect as the IVF probe list), broadcast
  joins it against the codes on (m, code), and sums exactly in decimal —
  approx dist²(q, v) = Σ_m dtab[m, code_m(v)]. The scan side touches ONLY
  the codes; at scale the raw vectors are never read after indexing.

Determinism contract (mirrored in oracles_vector.py): sub-distances are
euclidean (sqrt) then squared then rounded to DIST_ROUND — the same
list_distance-compatible op order the IVF oracle already proves out; the
rounded 6-decimal doubles cast EXACTLY to decimal(18,6), so the ADC sum is
order-insensitive on both engines. Code assignment ties break on the
smaller code (argmin-first / ORDER BY d, k).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import io
from ..constants import (
    ANN_K2,
    DEC,
    DIST_ROUND,
    N_QUERIES,
    PQ_ITERS,
    PQ_KSUB,
    PQ_M,
    PQ_SAMPLE,
)
from ..session import configure
from .knn import exact_scores, top_k


class PqModel:
    """M per-subspace codebooks: centroids shape (M, ksub, dsub)."""

    def __init__(self, centroids: np.ndarray):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.m, self.ksub, self.dsub = self.centroids.shape

    @classmethod
    def fit_path(
        cls,
        sf_dir: str,
        m: int = PQ_M,
        ksub: int = PQ_KSUB,
        sample_n: int = PQ_SAMPLE,
        iters: int = PQ_ITERS,
    ) -> "PqModel":
        """Deterministic fit, same recipe as IvfModel.fit_path per subspace:
        sample = first `sample_n` rows by vec_id; init = first `ksub` of the
        sample's slice; `iters` Lloyd steps; empty clusters keep their
        previous centroid. Reads the parquet directly (pyarrow) so the
        oracle builder runs the identical code on the identical bytes."""
        import pyarrow.parquet as pq

        t = pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
        )
        df = t.to_pandas().sort_values("vec_id").head(sample_n)
        x = np.array(df["embedding"].tolist(), dtype=np.float64)
        dim = x.shape[1]
        assert dim % m == 0, f"dim {dim} not divisible by M={m}"
        dsub = dim // m
        cents = np.empty((m, ksub, dsub), dtype=np.float64)
        for mi in range(m):
            xs = x[:, mi * dsub : (mi + 1) * dsub]
            cent = xs[:ksub].copy()
            for _ in range(iters):
                d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for j in range(ksub):
                    members = xs[assign == j]
                    if len(members):
                        cent[j] = members.mean(axis=0)
            cents[mi] = cent
        return cls(cents)

    def _sub_dists(self, vecs: np.ndarray, mi: int) -> np.ndarray:
        """Rounded euclidean distances of each vec's subspace-mi slice to the
        mi-th codebook — identical op order to DuckDB list_distance + round."""
        xs = vecs[:, mi * self.dsub : (mi + 1) * self.dsub]
        d = np.sqrt(((xs[:, None, :] - self.centroids[mi][None, :, :]) ** 2).sum(axis=2))
        return np.round(d, DIST_ROUND)

    def codes_udf(self):
        model = self

        @pandas_udf("array<int>")
        def _codes(vecs: pd.Series) -> pd.Series:
            v = np.array(vecs.tolist(), dtype=np.float64)
            out = np.empty((len(v), model.m), dtype=np.int32)
            for mi in range(model.m):
                # argmin on rounded distances: first min == smallest code
                out[:, mi] = model._sub_dists(v, mi).argmin(axis=1)
            return pd.Series(list(out))

        return _codes

    def dist_table(self, query_vecs: np.ndarray, query_ids: list[int]) -> list[tuple]:
        """(query_id, m, code, d2) rows: d2 = round(sub_dist², DIST_ROUND).
        Q·M·ksub entries — KB-sized, built driver-side."""
        rows = []
        v = np.asarray(query_vecs, dtype=np.float64)
        for mi in range(self.m):
            d = self._sub_dists(v, mi)
            d2 = np.round(d * d, DIST_ROUND)
            for qi, qid in enumerate(query_ids):
                for k in range(self.ksub):
                    rows.append((int(qid), mi, k, float(d2[qi, k])))
        return rows


_MODEL_CACHE: dict[str, PqModel] = {}


def model_for(sf_dir: str) -> PqModel:
    m = _MODEL_CACHE.get(sf_dir)
    if m is None:
        m = _MODEL_CACHE[sf_dir] = PqModel.fit_path(sf_dir)
    return m


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure(spark)
    return io.table(spark, sf_dir, "embeddings", widen=True)


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #50: per-vector PQ codes, long format (vec_id, m, code) —
    narrow Arrow pass, no shuffle; this IS the compressed index."""
    emb = _emb(spark, sf_dir)
    model = model_for(sf_dir)
    return emb.select(
        "vec_id", F.posexplode(model.codes_udf()(F.col("embedding"))).alias("m", "code")
    )


def ann_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #51: ADC top-k over the PQ codes for the canonical query
    batch. The per-neighbor work is a (m, code) hash-join lookup + exact
    decimal sum — the raw vectors are never touched after pq_codes.

    Output: (query_id, neighbor_id, adc_dist) top-ANN_K2 per query."""
    dtab = _query_dist_table(spark, sf_dir)
    codes = pq_codes(spark, sf_dir).withColumnRenamed("vec_id", "neighbor_id")
    adc = (
        codes.join(F.broadcast(dtab), ["m", "code"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        # rounded 6-decimal doubles cast exactly to decimal(18,6) → the sum
        # is exact and order-insensitive on any partitioning
        .agg(F.sum(F.col("d2").cast(DEC)).cast("double").alias("adc_dist"))
    )
    return top_k(adc, ANN_K2, "adc_dist")


def ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of PQ-ADC vs exact kNN — same quality metric as the LSH and
    IVF paths, so all three ANN families compare on one axis."""
    from .knn import _recall_of, exact_ground_truth

    ann = ann_search_pq(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_of(ann, exact_ground_truth(spark, sf_dir))


def _probe_lists_for(
    spark: SparkSession, probes: DataFrame, store: str, tag: str
) -> list:
    """KB-bounded (N_QUERIES·nprobe ids) probe-list collect for a
    DETERMINISTIC query batch, cached per (application, store, tag) —
    ivf._PROBE_LISTS_CACHE (Change 9) extended to the compressed-store
    consumers: the collect job was pure repeat overhead on the ivfpq
    store search and both maintenance twins."""
    from .ivf import _PROBE_LISTS_CACHE

    key = (spark.sparkContext.applicationId, f"{store}#{tag}")
    lists = _PROBE_LISTS_CACHE.get(key)
    if lists is None:
        lists = [r.list_id for r in probes.select("list_id").distinct().collect()]
        _PROBE_LISTS_CACHE[key] = lists
    return lists


# r13 (opt guide §5 driver time): the query-side ADC table is a driver
# job (Q query rows collected) + a numpy table build + a createDataFrame
# per CALL, repeated by every ADC consumer (ann_search_pq, ann_search_ivfpq
# ×2 recall twins, the ivfpq store search and both maintenance twins) and
# by every bench repeat. The batch is deterministic per (application,
# sf_dir, tag) — same amortization class as knn._PROBE_PARTS_CACHE /
# ivf._PROBE_LISTS_CACHE (Change 9): the frame is a KB-sized local
# relation, immutable within a process, recomputed from parquet by any
# fresh process. tag=None bypasses (non-canonical callers).
_DIST_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _query_dist_table(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame | None = None,
    tag: str | None = "canonical",
) -> DataFrame:
    """Broadcast-ready ADC distance table for the canonical query batch —
    shared by ann_search_pq and ann_search_ivfpq (Q·M·ksub rows ≈ KB).
    `emb` overrides the query-vector table (ivfpq_upsert passes the
    updated vectors so changed QUERY vectors search with their new
    coordinates — and its own `tag`, since the cache key must name the
    query batch)."""
    key = (spark.sparkContext.applicationId, sf_dir, tag) if tag else None
    if key is not None:
        hit = _DIST_TABLE_CACHE.get(key)
        if hit is not None:
            return hit
    if emb is None:
        emb = _emb(spark, sf_dir)
    model = model_for(sf_dir)
    qrows = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    rows = model.dist_table(
        np.array([r.embedding for r in qrows], dtype=np.float64),
        [r.vec_id for r in qrows],
    )
    out = spark.createDataFrame(rows, "query_id bigint, m int, code int, d2 double")
    if key is not None:
        _DIST_TABLE_CACHE[key] = out
    return out


def _ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Untruncated IVFPQ ADC frame (query_id, neighbor_id, adc_dist): the
    coarse quantizer prunes candidates to the query's NPROBE nearest lists
    (IVF), and the pruned candidates are ranked by PQ-ADC over their codes,
    never their raw vectors. At 100 TB a query batch therefore reads codes
    only (128× smaller than raw) of nprobe/nlist of the data — the
    standard billion-vector serving layout, here as one Spark plan: IVF
    assignment (session-cached) ⋈ broadcast probes → codes ⋈ broadcast
    distance table → exact decimal ADC sum."""
    from .ivf import list_assignments
    from .ivf import model_for as ivf_model_for
    from .ivf import probe_pairs

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    probes = probe_pairs(queries, ivf_model_for(sf_dir))
    cand = (
        list_assignments(spark, sf_dir)
        .select(F.col("vec_id").alias("neighbor_id"), "list_id")
        .join(F.broadcast(probes), "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    codes = pq_codes(spark, sf_dir).withColumnRenamed("vec_id", "neighbor_id")
    return (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(_query_dist_table(spark, sf_dir)), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("d2").cast(DEC)).cast("double").alias("adc_dist"))
    )


def ann_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ search: top-ANN_K2 of the ADC frame (see _ivfpq_adc).

    Output: (query_id, neighbor_id, adc_dist) top-ANN_K2 per query."""
    return top_k(_ivfpq_adc(spark, sf_dir), ANN_K2, "adc_dist")


def ann_search_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ + exact refine (FAISS IndexRefineFlat): the ADC pass
    over-fetches the top REFINE_R candidates per query, then ONLY those
    R·Q rows join back to the raw vectors for an exact euclidean re-rank
    to the final ANN_K2. This recovers most of the quantization loss while
    keeping the raw-vector read at R rows per query — at 100 TB the scan
    stays codes-only and the refine is a broadcast-semi-join point lookup
    (the Q·R shortlist broadcasts to the embeddings scan, so the raw side
    is read through a hash-semi filter, never shuffled).

    Output: (query_id, neighbor_id, distance) top-ANN_K2 per query, with
    true euclidean distances (unlike ann_search_ivfpq's ADC estimates)."""
    from ..constants import REFINE_R

    shortlist = top_k(_ivfpq_adc(spark, sf_dir), REFINE_R, "adc_dist").select(
        "query_id", "neighbor_id"
    )
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return top_k(exact_scores(shortlist, emb, queries), ANN_K2, "distance")


def _probed_adc_top_k(codes: DataFrame, probes: DataFrame, dtab: DataFrame) -> DataFrame:
    """Top-ANN_K2 ADC search over a codes store's probed lists — the shared
    tail of the ivfpq store search and both maintenance twins. codes
    (neighbor_id, m, code, list_id) ⋈ broadcast probes (query_id, list_id)
    on list_id, self-matches dropped, ⋈ broadcast distance table on
    (query_id, m, code), exact decimal ADC sum, top_k on adc_dist.

    Output: (query_id, neighbor_id, adc_dist)."""
    adc = (
        codes.join(F.broadcast(probes), "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(dtab), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("d2").cast(DEC)).cast("double").alias("adc_dist"))
    )
    return top_k(adc, ANN_K2, "adc_dist")


def ann_search_ivfpq_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ search through the PERSISTED index layout — the billion-vector
    serving shape on disk: codes live WITH their coarse-list assignment,
    partitioned by list_id (one directory per list, one file per
    directory), and a query batch reads only its probed lists' directories
    (literal PartitionFilters) and only code columns — nprobe/nlist of the
    index at 1/128 the bytes of raw vectors, and the raw embeddings are
    never opened at all. Results are identical to ann_search_ivfpq (same
    oracle), proving the pruned persisted path lossless."""
    from ..sources.index_store import load_ivf_lists, save_ivf_index
    from .ivf import list_assignments
    from .ivf import model_for as ivf_model_for
    from .ivf import probe_pairs

    emb = _emb(spark, sf_dir)
    out = io.fs_join(io.scratch_dir("ivfpq_store", sf_dir), "data")
    if not io.fs_exists(spark, io.fs_join(out, "_SUCCESS")):
        # (vec_id, m, code, list_id): the compressed index rows carry their
        # list so the store needs no side lookup at query time
        rows = pq_codes(spark, sf_dir).join(list_assignments(spark, sf_dir), "vec_id")
        save_ivf_index(rows, out)

    queries = emb.where(F.col("vec_id") < N_QUERIES)
    probes = probe_pairs(queries, ivf_model_for(sf_dir))
    # KB-bounded driver probe set (N_QUERIES·nprobe ids) → literal pruning
    probe_lists = _probe_lists_for(spark, probes, out, "canonical")
    codes = load_ivf_lists(spark, out, probe_lists).withColumnRenamed("vec_id", "neighbor_id")
    return _probed_adc_top_k(codes, probes, _query_dist_table(spark, sf_dir))


def ivfpq_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ store UPDATE-in-place (r10, #155) — ivf_upsert's twin on the
    COMPRESSED layout, completing full CRUD on the billion-vector serving
    shape (store #124 / delete #153 / UPSERT): the changed vectors
    (vec_id % UPSERT_MOD == 0, components doubled) get NEW codes and a
    NEW coarse assignment from the ORIGINAL codebooks and centroids — no
    refit of either quantizer, the invariant that keeps the store
    patchable — and only the list directories that held or now hold a
    changed vector are rewritten via pruned dynamic partition overwrite
    (a list emptied by the move is removed explicitly). Searching the
    patched store with the updated queries equals a full rebuild on the
    updated table (codes and assignments are deterministic functions of
    vector × model), which the oracle recomputes in SQL; changed QUERY
    vectors search with their updated coordinates (their ADC distance
    table is rebuilt from the updated embeddings). Idempotent (marker).

    At 100 TB: a delta of D changed vectors rewrites ≤ 2·D of the nlist
    code directories (1/128 the bytes of raw vectors); the doubled
    components also MOVE vectors between Voronoi cells, so both the
    leave and arrive sides of the patch are exercised.

    Output: (query_id, neighbor_id, adc_dist) top-ANN_K2 per query."""
    from ..constants import UPSERT_MOD
    from ..sources.index_store import (
        load_ivf_lists,
        pruned_dynamic_overwrite,
        save_ivf_index,
    )
    from .ivf import build_ivf_index, list_assignments
    from .ivf import model_for as ivf_model_for
    from .ivf import probe_pairs
    from .knn import _updated_emb

    emb = _emb(spark, sf_dir)
    memb = _updated_emb(spark, sf_dir)
    pqm = model_for(sf_dir)
    ivfm = ivf_model_for(sf_dir)
    out = io.scratch_dir("ivfpq_upsert", sf_dir)
    store = io.fs_join(out, "data")
    marker = io.fs_join(out, "UPSERTED")
    if not io.fs_exists(spark, io.fs_join(store, "_SUCCESS")):
        rows = pq_codes(spark, sf_dir).join(list_assignments(spark, sf_dir), "vec_id")
        save_ivf_index(rows, store)
    changed = F.col("vec_id") % UPSERT_MOD == 0
    if not io.fs_exists(spark, marker):
        # leave side: the changed ids' ORIGINAL lists; arrive side: their
        # NEW lists under the original centroids — both collects are
        # ≤ min(2·D, nlist) ints, the ivf_upsert bound
        old_a = build_ivf_index(emb.where(changed), ivfm).select("vec_id", "list_id")
        new_a = build_ivf_index(memb.where(changed), ivfm).select("vec_id", "list_id")
        parts = [
            int(r.list_id)
            for r in old_a.select("list_id").union(new_a.select("list_id")).distinct().collect()
        ]
        new_rows = (
            memb.where(changed)
            .select(
                "vec_id",
                F.posexplode(pqm.codes_udf()(F.col("embedding"))).alias("m", "code"),
            )
            .join(new_a, "vec_id")
        )
        existing = (
            io.read_parquet(spark, store)
            .where(F.col("list_id").isin(parts))
            .select("vec_id", "m", "code", "list_id")
        )
        patched = existing.where(~changed).unionByName(
            new_rows.select("vec_id", "m", "code", "list_id")
        )
        pruned_dynamic_overwrite(spark, store, patched, ["list_id"], parts)
        io.fs_touch(spark, marker)

    # search the patched store with the UPDATED queries (dist table and
    # probes both from the updated vectors) — same pruned plan as
    # ann_search_ivfpq_store
    queries = memb.where(F.col("vec_id") < N_QUERIES)
    probes = probe_pairs(queries, ivfm)
    probe_lists = _probe_lists_for(spark, probes, store, "upsert")
    codes = load_ivf_lists(spark, store, probe_lists).withColumnRenamed("vec_id", "neighbor_id")
    dtab = _query_dist_table(spark, sf_dir, emb=memb, tag="upsert")
    return _probed_adc_top_k(codes, probes, dtab)


def ivfpq_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ store DELETE-in-place (r10, #153) — extends the #151/#152
    CRUD pattern to the COMPRESSED serving layout (the billion-vector
    shape: codes live with their coarse list, raw vectors never reopened
    at query time), so a GDPR purge can patch the codes store without a
    rebuild: the purged ids (vec_id % DELETE_MOD == DELETE_REM — the same
    id set as ivf_delete / index_delete) are dropped from ONLY the
    list_id directories that held one, via pruned dynamic partition
    overwrite; a list emptied by the purge is removed explicitly. NO
    refit of either quantizer — coarse centroids and PQ codebooks keep
    serving (FAISS remove_ids' invariant), which is what makes the patch
    O(touched dirs) instead of O(index). Searching the patched store
    with the surviving queries equals a full rebuild on the filtered
    corpus (codes are a deterministic function of vector × codebook, so
    rebuild == original minus doomed rows); the oracle recomputes that
    rebuild in SQL, and a purged QUERY id vanishes from the output —
    rebuild semantics. Idempotent across re-runs (marker).

    At 100 TB: deleting D ids rewrites ≤ min(D, nlist) directories of
    codes (1/128 the bytes of raw vectors); the search path is the
    unchanged literal-PartitionFilter ADC probe.

    Output: (query_id, neighbor_id, adc_dist) top-ANN_K2 per surviving
    query."""
    from ..constants import DELETE_MOD, DELETE_REM
    from ..sources.index_store import (
        load_ivf_lists,
        pruned_dynamic_overwrite,
        save_ivf_index,
    )
    from .ivf import list_assignments
    from .ivf import model_for as ivf_model_for
    from .ivf import probe_pairs

    emb = _emb(spark, sf_dir)
    out = io.scratch_dir("ivfpq_delete", sf_dir)
    store = io.fs_join(out, "data")
    marker = io.fs_join(out, "DELETED")
    if not io.fs_exists(spark, io.fs_join(store, "_SUCCESS")):
        rows = pq_codes(spark, sf_dir).join(list_assignments(spark, sf_dir), "vec_id")
        save_ivf_index(rows, store)
    doomed_pred = F.col("vec_id") % DELETE_MOD == DELETE_REM
    if not io.fs_exists(spark, marker):
        # only the doomed ids' assignments are recomputed — the collect is
        # ≤ min(D, nlist) list ids, the same KB bound as ivf_delete
        parts = [
            int(r.list_id)
            for r in list_assignments(spark, sf_dir)
            .where(doomed_pred)
            .select("list_id")
            .distinct()
            .collect()
        ]
        existing = (
            io.read_parquet(spark, store)
            .where(F.col("list_id").isin(parts))
            .select("vec_id", "m", "code", "list_id")
        )
        patched = existing.where(~doomed_pred)
        pruned_dynamic_overwrite(spark, store, patched, ["list_id"], parts)
        io.fs_touch(spark, marker)

    # search the patched store: identical plan to ann_search_ivfpq_store,
    # with doomed QUERY ids excluded (a purged id can't issue queries)
    queries = emb.where((F.col("vec_id") < N_QUERIES) & ~doomed_pred)
    probes = probe_pairs(queries, ivf_model_for(sf_dir))
    probe_lists = _probe_lists_for(spark, probes, store, "delete")
    codes = load_ivf_lists(spark, store, probe_lists).withColumnRenamed("vec_id", "neighbor_id")
    return _probed_adc_top_k(codes, probes, _query_dist_table(spark, sf_dir))


def ann_recall_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of refined IVFPQ vs exact kNN — quantifies how much of the
    composed IVF+PQ loss the exact refine stage recovers (compare against
    ann_recall_ivfpq on the same axis)."""
    from .knn import _recall_of, exact_ground_truth

    ann = ann_search_ivfpq_refined(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_of(ann, exact_ground_truth(spark, sf_dir))


def ann_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of IVFPQ vs exact kNN — quantifies the composed loss (IVF
    pruning + PQ quantization) on the same axis as every other ANN family."""
    from .knn import _recall_of, exact_ground_truth

    ann = ann_search_ivfpq(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_of(ann, exact_ground_truth(spark, sf_dir))


def sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 SCALAR quantization — the third compression family next to PQ:
    per-dimension global [min, max] → 256 uniform levels, 8× smaller than
    float64 with no codebook fit (the format FAISS calls SQ8 and vector
    stores default to for flat indexes).

    Spark-first shape: pass 1 aggregates per-dim min/max off a posexplode
    (64 rows — partial agg map-side, broadcast back); pass 2 re-scans and
    encodes each component + its reconstruction error. Exact min/max (no
    float summation) and pure-double encode arithmetic on identical inputs
    make the output bit-stable on any partitioning; `floor(x + 0.5)` is the
    shared round-half-up both engines compute identically.

    Output: (vec_id, dim, code ∈ [0,255], err_micros = the reconstruction
    error v − dequant(code) in integer micro-units). err_micros is
    floor(err·1e6 + 0.5) — ONLY IEEE subtract/multiply/floor, no library
    round — so Spark and DuckDB produce bit-identical BIGINTs (library
    `round` differs on half-way/last-ulp cases and stringifies −0.0 vs 0.0
    differently, which failed the r2 driver hash gate)."""
    from ..constants import SQ8_LEVELS
    from ..functions.vector import as_double

    emb = _emb(spark, sf_dir)
    exploded = emb.select(
        "vec_id", F.posexplode(as_double(F.col("embedding"))).alias("dim", "v")
    )
    rng = exploded.groupBy("dim").agg(
        F.min("v").alias("dmin"), F.max("v").alias("dmax")
    )
    scale = (F.col("dmax") - F.col("dmin")) / F.lit(float(SQ8_LEVELS))
    code = F.least(
        F.lit(SQ8_LEVELS),
        F.greatest(
            F.lit(0),
            F.floor((F.col("v") - F.col("dmin")) / scale + F.lit(0.5)).cast("int"),
        ),
    )
    return (
        exploded.join(F.broadcast(rng), "dim")
        .withColumn("code", code)
        .select(
            "vec_id",
            "dim",
            "code",
            F.floor(
                (F.col("v") - (F.col("dmin") + F.col("code") * scale)) * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("err_micros"),
        )
    )


_SQ8_PARAMS: dict[str, tuple] = {}


def _sq8_params(sf_dir: str):
    """Per-dim (min, scale) from the parquet bytes, driver-side (pyarrow) —
    same determinism contract as the IVF/PQ fits: min/max are exact picks
    of stored doubles (no float summation), so Spark MIN/MAX, DuckDB
    MIN/MAX, and numpy min/max all yield the identical KB-sized model."""
    from ..constants import SQ8_LEVELS

    got = _SQ8_PARAMS.get(sf_dir)
    if got is None:
        import pyarrow.parquet as paq

        t = paq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"]
        )
        x = np.array(t.to_pandas()["embedding"].tolist(), dtype=np.float64)
        dmin = x.min(axis=0)
        scale = (x.max(axis=0) - dmin) / float(SQ8_LEVELS)
        got = _SQ8_PARAMS[sf_dir] = (dmin, scale)
    return got


def _dequant_expr(vec_col: str, dmin, scale):
    """embedding → its SQ8 round-trip (quantize then dequantize), as a pure
    Catalyst expression: the vector zipped with the per-dim (min, scale)
    literal arrays — O(dim) per row (an element_at-indexed form would be
    O(dim²) and fall out of codegen), JVM-side, no Python."""
    from ..constants import SQ8_LEVELS
    from ..functions.vector import as_double

    z = F.arrays_zip(
        as_double(F.col(vec_col)),
        F.array(*[F.lit(float(m)) for m in dmin]),
        F.array(*[F.lit(float(s)) for s in scale]),
    )

    def deq(s):
        v, m, sc = s["0"], s["1"], s["2"]
        code = F.least(
            F.lit(SQ8_LEVELS),
            F.greatest(F.lit(0), F.floor((v - m) / sc + F.lit(0.5)).cast("int")),
        )
        return m + code.cast("double") * sc

    return F.transform(z, deq)


def ann_search_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k search in the SQ8-COMPRESSED domain: both sides of the
    distance are the int8 round-trip of the raw vectors — the scan reads
    8×-smaller data at scale, and this query measures exactly what that
    compression does to the ranking (its recall twin is ann_recall_sq8).
    Completes the family: LSH/IVF prune candidates, PQ compresses to ADC
    codes, SQ8 compresses the scan itself.

    Same plan shape as knn_exact: broadcast query side, per-partition
    top-k before the only shuffle; the dequantization is a narrow
    zip-transform in whole-stage codegen."""
    from .knn import knn_exact

    configure(spark)
    emb = _emb(spark, sf_dir)
    dmin, scale = _sq8_params(sf_dir)
    deq = emb.select("vec_id", _dequant_expr("embedding", dmin, scale).alias("embedding"))
    return knn_exact(deq, deq.where(F.col("vec_id") < N_QUERIES), metric="euclidean")


def ann_recall_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of SQ8-domain search vs exact kNN on the raw vectors — the
    compression-quality metric, on the same axis as the LSH/IVF/PQ recalls."""
    from .knn import _recall_of, exact_ground_truth

    ann = ann_search_sq8(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_of(ann, exact_ground_truth(spark, sf_dir))


_BITSIGN_MIDS: dict[str, np.ndarray] = {}


def _bitsign_mids(sf_dir: str) -> np.ndarray:
    """Per-dim sign thresholds mid_d = (min_d + max_d) * 0.5, driver-side
    from the parquet bytes — the same KB-model determinism contract as
    `_sq8_params`: min/max are exact picks of stored doubles and the
    midpoint is ONE IEEE add + mul, so numpy here and (MIN(v)+MAX(v))*0.5
    in the DuckDB oracle produce bit-identical thresholds."""
    got = _BITSIGN_MIDS.get(sf_dir)
    if got is None:
        import pyarrow.parquet as paq

        t = paq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"]
        )
        x = np.array(t.to_pandas()["embedding"].tolist(), dtype=np.float64)
        got = _BITSIGN_MIDS[sf_dir] = (x.min(axis=0) + x.max(axis=0)) * 0.5
    return got


def _bitsign_code_cols(vec_col: str, mids: np.ndarray):
    """embedding → (code_lo, code_hi) packed sign bits, as pure Catalyst
    expressions: the vector zipped with per-dim (midpoint, bit-weight)
    literal arrays, then a codegen `aggregate` fold per 32-dim word —
    O(dim) per row, JVM-side, no Python. Two 32-bit words in BIGINTs keep
    the oracle portable (DuckDB overflows on 1::BIGINT << 63)."""
    from ..functions.vector import as_double

    d = len(mids)
    z = F.arrays_zip(
        as_double(F.col(vec_col)),
        F.array(*[F.lit(float(m)) for m in mids]),
        F.array(*[F.lit(1 << (i % 32)).cast("long") for i in range(d)]),
    )

    def word(start: int, n: int):
        if n <= 0:
            return F.lit(0).cast("long")
        return F.aggregate(
            F.slice(z, start + 1, n),
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.when(s["0"] > s["1"], s["2"]).otherwise(F.lit(0).cast("long")),
        )

    return word(0, min(32, d)), word(32, d - 32)


def bitsign_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit/dim BINARY quantization — the fourth compression family next
    to PQ (codebooks), SQ8 (uniform levels) and MRL (dimension prefix):
    bit d = v_d > (min_d+max_d)/2, 64 dims packed to 8 bytes — a 64x cut
    vs float64, the format vector stores call binary quantization and use
    for in-RAM candidate generation (reference `_aknn_search`'s bit-hash
    role, but content-derived rather than random-hyperplane).

    Narrow single-pass scan: per-row codegen fold, no explode, no shuffle.
    Output: (vec_id, code_lo bits 0..31, code_hi bits 32..63)."""
    from .knn import _emb

    emb = _emb(spark, sf_dir)
    lo, hi = _bitsign_code_cols("embedding", _bitsign_mids(sf_dir))
    return emb.select("vec_id", lo.alias("code_lo"), hi.alias("code_hi"))


def ann_search_bitsign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN over the 1-bit codes: Hamming coarse rank (popcount of
    xor, two BIGINT words) → top-BITSIGN_K1 shortlist per query → exact
    full-dim euclidean re-rank → top-ANN_K2. Same k1/k2 contract and plan
    shape as ann_search_matryoshka: the corpus-wide stage touches ONLY the
    8-byte codes (at scale a stored column — the scan reads 1/64 of the
    vector bytes), top_k's native WindowGroupLimit folds N·Q coarse rows to
    ≤ Q·K1 per partition before the only shuffle, stage 2 (exact_scores)
    gathers Q·K1 full vectors.

    Output: (query_id, neighbor_id, hamming, distance)."""
    from ..constants import BITSIGN_K1
    from .knn import _emb

    configure(spark)
    emb = _emb(spark, sf_dir)
    mids = _bitsign_mids(sf_dir)
    lo, hi = _bitsign_code_cols("embedding", mids)
    codes = emb.select(
        F.col("vec_id").alias("neighbor_id"), lo.alias("n_lo"), hi.alias("n_hi")
    )
    q = emb.where(F.col("vec_id") < N_QUERIES)
    qcodes = q.select(
        F.col("vec_id").alias("query_id"), lo.alias("q_lo"), hi.alias("q_hi")
    )
    scored = codes.join(
        F.broadcast(qcodes), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (
            F.bit_count(F.col("n_lo").bitwiseXOR(F.col("q_lo")))
            + F.bit_count(F.col("n_hi").bitwiseXOR(F.col("q_hi")))
        )
        .cast("bigint")
        .alias("hamming"),
    )
    shortlist = top_k(scored, BITSIGN_K1, "hamming")
    return top_k(exact_scores(shortlist, emb, q), ANN_K2, "distance")


def ann_recall_bitsign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the binary-code search vs exact kNN — places the 1-bit
    coarse scorer on the family quality axis at the shared re-rank budget
    (BITSIGN_K1 = MRL_K1 = REFINE_R = 30)."""
    from .knn import _recall_of, exact_ground_truth

    ann = ann_search_bitsign(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_of(ann, exact_ground_truth(spark, sf_dir))
