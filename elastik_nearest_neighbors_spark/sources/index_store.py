"""Persisted index layout — the storage half of the 100 TB design.

The reference keeps its index inside Elasticsearch (hash terms as keyword
fields, pruned by ES's inverted index). The Spark-native equivalent is a
parquet layout whose *directory partitioning* carries the pruning:

- LSH: exploded (vec_id, tbl, hash) written partitioned by
  (tbl, bucket = pmod(hash, n_buckets)). A search that term-matches one
  (tbl, hash) pair touches exactly one directory — the scan's
  PartitionFilters prune everything else without reading a footer. The
  HTTP server's store (docs/ only) is partitioned by
  id_bucket = pmod(xxhash64(_id), n_buckets).
- IVF: (vec_id, list_id) partitioned by list_id; probing nprobe of nlist
  lists reads nprobe/nlist of the data.

This module is the one reader of the LSH bucket count
(DEFAULT_HASH_BUCKETS): every other module builds the layout through
doc_bucket, lsh_terms and term_part, and patches a term store through
patch_lsh_terms, so a different bucket count is a change here alone.

`bucket` is a *directory-count cap*, not a hash table: at nlist/n_buckets
directories the layout stays listable at 100 TB while still pruning ~1/n of
the index per lookup. Hash equality is still checked in the scan filter —
bucketing is lossless.

The loaders take plain predicates so Catalyst sees literal partition
filters; tests assert the pruning shows up in the physical plan
(tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_HASH_BUCKETS = 64

# Radix for packing a multi-column partition key into one long so a
# touched-directory filter is a single `isin` over one expression (stays a
# PartitionFilter) instead of an O(|keys|)-deep OR tree. Safe because every
# trailing key column here is a *directory-count cap* (DEFAULT_HASH_BUCKETS /
# GRAPH_EDGE_BUCKETS / nlist), orders of magnitude below the radix.
PACKED_KEY_RADIX = 100_000


def doc_bucket(id_col: Column) -> Column:
    """The docs/ directory (id_bucket) of an _id. xxhash64 is type-
    sensitive: `id_col` must carry the index's pinned _id type. Over a
    literal it constant-folds, so a lookup stays a literal PartitionFilter."""
    return F.pmod(F.xxhash64(id_col), F.lit(DEFAULT_HASH_BUCKETS))


def _term_bucket(hash_col: Column) -> Column:
    return F.pmod(hash_col, F.lit(DEFAULT_HASH_BUCKETS))


def lsh_terms(hashed: DataFrame, id_col: str) -> DataFrame:
    """The (vec_id, tbl int, hash, bucket int) term rows of a hashed frame
    (`id_col`, hashes[T]) — what the terms/ store holds per doc."""
    from ..operators.lsh import explode_hashes

    return explode_hashes(hashed, id_col, "vec_id").select(
        "vec_id",
        F.col("tbl").cast("int").alias("tbl"),
        "hash",
        _term_bucket(F.col("hash")).cast("int").alias("bucket"),
    )


def term_part(tbl: int, hash_val: int) -> tuple[int, int]:
    """The (tbl, bucket) directory of one driver-side term (Python's % is
    non-negative for a positive modulus, like pmod)."""
    return int(tbl), int(hash_val) % DEFAULT_HASH_BUCKETS


def clustered(df: DataFrame, *part_cols: str) -> DataFrame:
    """Cluster `df` by the partition columns with an EXPLICIT partition
    count (r14). A bare `repartition(*cols)` is AQE-coalescible, and for
    the KB-sized store writes here AQE folds the exchange to ONE partition
    — a single DynamicPartitionDataSingleWriter task then creates every
    partition directory and file SERIALLY, each create paying Hadoop's
    local-FS chmod subprocess fork twice (mkdir + file). Thread dumps of
    stalled bench runs show exactly that task shape burning 40-60 s of
    wall clock per store build. Pinning the count keeps the write spread
    over the session's task slots (hash clustering still lands each
    directory's rows in exactly one task, so the one-file-per-directory
    layout is unchanged); at cluster scale the same expression follows
    spark.sql.shuffle.partitions."""
    spark = df.sparkSession
    n = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    return df.repartition(n, *[F.col(c) for c in part_cols])


def _norm_keys(keys) -> list[tuple[int, ...]]:
    return [
        tuple(int(x) for x in (k if isinstance(k, (tuple, list)) else (k,)))
        for k in keys
    ]


def partition_key_filter(part_cols: list[str], keys):
    """Single-expression predicate over partition columns ONLY, selecting
    exactly the directories named by `keys` (ints for one partition column,
    tuples for several). Catalyst keeps it in the scan's PartitionFilters;
    multi-column keys are packed (see PACKED_KEY_RADIX)."""
    ks = _norm_keys(keys)
    if len(part_cols) == 1:
        return F.col(part_cols[0]).isin([k[0] for k in ks])
    expr = F.col(part_cols[0]).cast("long")
    for c in part_cols[1:]:
        expr = expr * PACKED_KEY_RADIX + F.col(c)
    packed = []
    for k in ks:
        v = k[0]
        for x in k[1:]:
            v = v * PACKED_KEY_RADIX + x
        packed.append(v)
    return expr.isin(packed)


def pruned_dynamic_overwrite(
    spark: SparkSession,
    path: str,
    patched: DataFrame,
    part_cols: list[str],
    touched,
    assume_live: bool = False,
) -> None:
    """The shared patch-in-place tail used by every index-maintenance op:
    patch_lsh_terms (knn.index_upsert, knn.index_delete), the HTTP
    server's docs/ store, ivf.ivf_upsert/ivf_delete,
    pq.ivfpq_upsert/ivfpq_delete and graph._purge_edges.

    `patched` holds the surviving/replacement rows of ONLY the `touched`
    directories (each key an int or tuple matching `part_cols`). Steps, each
    load-bearing:

    1. localCheckpoint BEFORE the overwrite — `patched` reads the same
       parquet path it is about to rewrite; materializing it first (the
       delta's ≤ |touched| directories of rows, not the whole store) makes
       read-then-overwrite safe instead of racing the scan against the
       truncation.
    2. Dynamic partition overwrite, clustered by the partition keys (one
       file per rewritten directory), with the session's
       partitionOverwriteMode saved/restored around the write.
    3. Explicit delete of touched directories that received NO surviving
       rows — dynamic overwrite skips empty partitions, so their stale
       files would silently survive and keep matching searches. Callers
       that KNOW every touched directory receives rows (a replace whose
       new batch lands in exactly the touched dirs) pass assume_live=True
       and skip the live-set job + the directory sweep — one fewer Spark
       job on the point-update serving path (r12).

    At 100 TB the cost is O(touched directories), never O(store)."""
    from .. import io

    patched = patched.localCheckpoint()
    live = None
    if not assume_live:
        live = {
            tuple(int(r[c]) for c in part_cols)
            for r in patched.select(*part_cols).distinct().collect()
        }
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            clustered(patched, *part_cols)
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    if assume_live:
        return
    for k in _norm_keys(touched):
        if k not in live:
            io.fs_delete(
                spark,
                io.fs_join(path, *[f"{c}={v}" for c, v in zip(part_cols, k)]),
            )


def patch_lsh_terms(
    spark: SparkSession,
    path: str,
    touched,
    existing: DataFrame | None,
    drop_ids: DataFrame,
    new_terms: DataFrame | None = None,
    assume_live: bool = False,
) -> None:
    """The one LSH term-store patch: every touched (tbl, bucket) directory
    keeps its rows minus `drop_ids` (a one-column frame of vec_ids), plus
    `new_terms` (lsh_terms rows; None for a pure delete). Replace, upsert
    and delete are all this call. `existing` is the caller's read of the
    store (None when no touched directory exists yet); it is narrowed to
    the touched directories here, so a caller may pass the whole store.
    `touched` must cover every directory a dropped id or a new term lives
    in — a new-only directory's existing rows are folded in, or the
    overwrite would drop them. assume_live: see pruned_dynamic_overwrite
    (true only when every touched directory receives a new term)."""
    patched = new_terms
    if existing is not None:
        survivors = (
            existing.where(partition_key_filter(["tbl", "bucket"], touched))
            .select(
                "vec_id",
                F.col("tbl").cast("int").alias("tbl"),
                "hash",
                F.col("bucket").cast("int").alias("bucket"),
            )
            .join(F.broadcast(drop_ids.toDF("vec_id")), "vec_id", "left_anti")
        )
        patched = survivors if patched is None else survivors.unionByName(patched)
    if patched is None:
        return
    pruned_dynamic_overwrite(spark, path, patched, ["tbl", "bucket"], touched, assume_live)


def save_lsh_index(exploded: DataFrame, path: str) -> None:
    """Persist an exploded LSH index (vec_id, tbl, hash) partitioned by
    (tbl, bucket).

    The repartition on the partition keys is load-bearing: without it every
    input task writes its own file into EVERY directory it has rows for —
    tasks × T × n_buckets tiny files (measured 32k files / 60s at sf0.1).
    Clustering by (tbl, bucket) first gives one file per directory and an
    8× faster build; it is also exactly the write-side shuffle a 100 TB
    deployment wants (each reducer owns whole buckets)."""
    (
        clustered(
            exploded.withColumn("bucket", _term_bucket(F.col("hash"))),
            "tbl",
            "bucket",
        )
        .write.mode("overwrite")
        .partitionBy("tbl", "bucket")
        .parquet(path)
    )


def load_lsh_bucket(spark: SparkSession, path: str, tbl: int, hash_val: int) -> DataFrame:
    """Candidates for one (tbl, hash) term — partition-pruned to a single
    (tbl, bucket) directory, then exact hash-matched inside it."""
    from .. import io

    tbl, bucket = term_part(tbl, hash_val)
    return (
        io.read_parquet(spark, path)
        .where(
            (F.col("tbl") == tbl)
            & (F.col("bucket") == bucket)
            & (F.col("hash") == hash_val)
        )
        .select("vec_id", "tbl", "hash")
    )


def load_lsh_partitions(
    spark: SparkSession, path: str, parts: list[tuple[int, int]]
) -> DataFrame:
    """Index rows for a batch of (tbl, bucket) directories — the search-time
    read path. The needed directories are passed EXPLICITLY (with basePath so
    tbl/bucket stay partition columns): `spark.read.parquet(root)` would
    driver-list all T·n_buckets directories before pruning a thing, and at
    100 TB (or even locally at 1024 dirs — measured seconds of listing) the
    listing IS the cost. The packed-key IN predicate (partition_key_filter)
    stays on top as an in-plan PartitionFilters guard; it prunes nothing
    extra here but keeps the read correct if a caller passes a superset
    path list. It selects exactly the same (tbl, bucket) set the old
    OR-of-literals tree did, but building that 120-way Column tree cost
    ~2-5 s of py4j round-trips PER SEARCH at sf0.1 (r13 profile:
    construction dominated the warm repeat, 2.8 s of 4.0 s) — the packed
    IN builds in <0.9 s and the scan/action cost is unchanged. `parts` is
    ≤ Q·T entries for a query batch — KB-sized, like the IVF probe list."""
    pred = partition_key_filter(["tbl", "bucket"], parts)
    from .. import io

    dirs = [io.fs_join(path, f"tbl={int(t)}", f"bucket={int(b)}") for t, b in parts]
    # a probed bucket may simply have no indexed rows → no directory; at
    # scale this existence check reads the write manifest, not the fs
    dirs = [d for d in dirs if io.fs_isdir(spark, d)]
    if not dirs:
        return spark.createDataFrame([], "vec_id bigint, tbl int, hash bigint")
    return (
        io.read_parquet(spark, path, base=path, dirs=dirs)
        .where(pred)
        .select("vec_id", "tbl", "hash")
    )


def compact_lsh_store(spark: SparkSession, src_path: str, dst_path: str) -> None:
    """Rewrite a (possibly many-small-files) LSH store into the canonical
    one-file-per-(tbl, bucket)-directory layout. Streaming appends create
    one file per touched directory per micro-batch; at 100 TB the per-file
    open/footer overhead of that accumulation dominates pruned reads long
    before the bytes do. Same clustered write as save_lsh_index, so the
    compacted store is content- and layout-identical to a batch-built one."""
    df = spark.read.parquet(src_path)  # tbl/bucket come back as partition cols
    (
        clustered(df, "tbl", "bucket")
        .write.mode("overwrite")
        .partitionBy("tbl", "bucket")
        .parquet(dst_path)
    )


def clustered_overwrite_swap(
    spark: SparkSession, path: str, df: DataFrame, part_cols: list[str]
) -> None:
    """Replace a live partitioned store directory with `df` in the
    canonical clustered layout, safely: write to a sibling `.new` dir
    (the suffix is outside the partition-value namespace), drop the old
    tree, rename into place. A Spark job must never overwrite a
    directory its input is still reading from — `df` may scan `path` —
    hence the sibling + swap; the CALLER runs this under its torn-write
    marker so a crash between drop and rename is a detected 503, not
    silent data loss."""
    from .. import io

    tmp = path.rstrip("/") + ".new"
    (
        clustered(df, *part_cols)
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(tmp)
    )
    io.fs_delete(spark, path)
    io.fs_rename(spark, tmp, path)


def compact_in_place(spark: SparkSession, path: str, part_cols: list[str]) -> None:
    """compact_lsh_store's clustered rewrite for a live store directory
    (r13, the wire-compaction item): same content, same partition values,
    one file per directory."""
    clustered_overwrite_swap(spark, path, spark.read.parquet(path), part_cols)


def save_ivf_index(assigned: DataFrame, path: str) -> None:
    """Persist an IVF index (vec_id, list_id, center_dist) partitioned by
    list_id. Clustered by list_id before the write for one file per list
    directory (see save_lsh_index)."""
    clustered(assigned, "list_id").write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(path)


def load_ivf_lists(spark: SparkSession, path: str, list_ids: list[int]) -> DataFrame:
    """Vectors in the probed lists — scan prunes to len(list_ids) of nlist
    directories."""
    from .. import io

    return io.read_parquet(spark, path).where(F.col("list_id").isin(list_ids))


GRAPH_EDGE_BUCKETS = 64


def save_graph_edges(edges: DataFrame, path: str, n_buckets: int = GRAPH_EDGE_BUCKETS) -> None:
    """Persist kNN-graph edges (vec_a, vec_b, distance) partitioned by
    bucket = vec_a mod n_buckets — the same directory-count-capped layout
    as the LSH store: a query batch's hop expansion touches only the
    buckets its seed ids land in, and hop lookups stay lossless because
    vec_a equality is still checked in the scan filter."""
    (
        clustered(
            edges.withColumn("bucket", F.pmod(F.col("vec_a"), F.lit(n_buckets))), "bucket"
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def load_graph_buckets(
    spark: SparkSession, path: str, buckets: list[int]
) -> DataFrame:
    """Edges in the seeds' buckets — scan prunes to len(buckets) of
    n_buckets directories (literal PartitionFilters)."""
    from .. import io

    return (
        io.read_parquet(spark, path)
        .where(F.col("bucket").isin(buckets))
        .select("vec_a", "vec_b", "distance")
    )
