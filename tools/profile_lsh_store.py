"""Phase profile of ann_search_lsh_store at the bench session shape (§1).

Times each driver-visible phase of one warm search repeat separately:
  a. query hash job (q_terms distinct collect — the probe-parts job)
  b. fs_isdir loop over the probe dirs
  c. load_lsh_partitions DataFrame construction (read.parquet + 119-term OR)
  d. full noop action of the final frame (cold + warm repeats)
and for contrast the in-memory twin ann_search_lsh's noop action.

Run AFTER other Spark workloads have drained; numbers are min-of-N.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from elastik_nearest_neighbors_spark import io, registry  # noqa: E402
from elastik_nearest_neighbors_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def t(label, fn, n=3):
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        out = fn()
        runs.append(time.perf_counter() - t0)
    print(f"{label:55s} min {min(runs):6.3f}s  runs {[round(r,3) for r in runs]}")
    return out


def main():
    spark = get_spark(app_name="profile-lsh-store", cpus=CPUS, shuffle_partitions=max(CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql.functions import pandas_udf

    _warm = pandas_udf(lambda x: x * 1.0, "double")
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(CPUS).select(
        _warm("vec_id")
    ).write.format("noop").mode("overwrite").save()

    qs = registry.queries()
    # ensure the store exists (build cost excluded — one priming call)
    t("prime: full ann_search_lsh_store (build+search)", lambda: qs["ann_search_lsh_store"](spark, SF_DIR).write.format("noop").mode("overwrite").save(), n=1)

    from elastik_nearest_neighbors_spark.operators.knn import (
        _emb,
        _model_for,
        _PROBE_PARTS_CACHE,
    )
    from elastik_nearest_neighbors_spark.operators.lsh import build_index
    from elastik_nearest_neighbors_spark.sources.index_store import (
        load_lsh_partitions,
        lsh_terms,
    )

    out = io.scratch_dir("lsh_store", SF_DIR)
    store = io.fs_join(out, "data")

    emb = _emb(spark, SF_DIR)
    model = _model_for(emb, SF_DIR)
    queries = emb.where(F.col("vec_id") < 8)
    q_terms = lsh_terms(build_index(queries, model), "vec_id")

    def probe_parts():
        return [
            (r.tbl, r.bucket)
            for r in q_terms.select("tbl", "bucket").distinct().collect()
        ]

    parts = t("a. probe-parts job (uncached first call)", probe_parts)

    def isdir_loop():
        dirs = [io.fs_join(store, f"tbl={int(a)}", f"bucket={int(b)}") for a, b in parts]
        return [d for d in dirs if io.fs_isdir(spark, d)]

    t("b. fs_isdir loop", isdir_loop)

    def build_load_df():
        return load_lsh_partitions(spark, store, parts)

    t("c. load_lsh_partitions df construction", build_load_df)

    def count_store():
        return load_lsh_partitions(spark, store, parts).count()

    t("c2. pruned store read .count()", count_store)

    def full_repeat():
        qs["ann_search_lsh_store"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    t("d. full warm ann_search_lsh_store repeat", full_repeat, n=4)

    def twin():
        qs["ann_search_lsh"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    t("e. ann_search_lsh (in-memory twin)", twin, n=4)

    # phase split inside the repeat: time the final frame's ACTION alone,
    # with the frame pre-built (driver-side plan construction excluded)
    frame = qs["ann_search_lsh_store"](spark, SF_DIR)
    t("f. action only (pre-built frame)", lambda: frame.write.format("noop").mode("overwrite").save(), n=4)

    def build_frame_only():
        return qs["ann_search_lsh_store"](spark, SF_DIR)

    t("g. frame construction only (no action)", build_frame_only, n=4)

    print("probe dirs:", len(parts))
    spark.stop()


if __name__ == "__main__":
    main()
