"""Serving-side A/B: closure (pandas_udf descent) vs sharded (fine level
as a DataFrame) IVF assignment + probe at big L (BASELINE.md "r8 scale
evidence" has the earlier fit A/B). It shows the sharded serve's cost
against the closure serve at an sf100-scale distinct corpus, L=8000.

Protocol (the repo's interleaved-A/B discipline): one process, model built
once, then C,S,C,S (or S,C,S,C with --order rev) timed runs of
  assign: build_ivf_index-shaped assignment of the FULL corpus,
  probe:  probe-pair selection for the canonical 256-query batch,
each materialized through the same parquet sink so write cost is identical
across arms. After timing, the two assign outputs and the two probe
outputs are joined and compared distributively — mismatches must be 0
(the bit-equality the unit tests assert at toy scale, re-asserted at 2M).

The model is an iters=0 fit: centroids = the first NLIST distinct corpus
rows, hierarchy via the production _build_levels. Serving cost depends on
model SHAPE (L, depth, branch), not centroid quality, and corpus-drawn
centroids give a realistic distance distribution; skipping Lloyd keeps the
one-time setup minutes instead of a full fit's ~15 driver-minutes.

Usage: python tools/sharded_serving_ab.py DIR [NLIST] [--order rev]
  e.g. python tools/sharded_serving_ab.py /tmp/enn_scale/sfdistinct2m 8000
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from elastik_nearest_neighbors_spark.session import get_spark
from elastik_nearest_neighbors_spark.operators import ivf
from elastik_nearest_neighbors_spark.operators.ivf import (
    IvfModel,
    _build_levels,
    _fit_sample,
    assign_sharded,
    probe_sharded,
)

OUT = "/tmp/enn_serving_ab"


def _timed_write(df, path: str) -> float:
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.time()
    df.write.mode("overwrite").parquet(path)
    return time.time() - t0


def main() -> None:
    sf_dir = sys.argv[1]
    nlist = int(sys.argv[2]) if len(sys.argv) > 2 and sys.argv[2].isdigit() else 8000
    rev = "--order" in sys.argv and "rev" in sys.argv

    spark = get_spark()
    cent = _fit_sample(sf_dir, nlist)
    model = IvfModel(cent, levels=_build_levels(cent))
    print(
        f"model: L={len(cent)} depth={len(model.levels)} "
        f"closure_bytes={model.model_bytes}",
        flush=True,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb.where(F.col("vec_id") < 256)

    def closure_assign():
        a = model.assign_udf()(F.col("embedding"))
        return emb.select(F.col("vec_id"), a.alias("a")).select(
            "vec_id",
            F.col("a.list_id").alias("list_id"),
            F.col("a.center_dist").alias("center_dist"),
        )

    def sharded_assign():
        return assign_sharded(emb, model)

    def closure_probe():
        return queries.select(
            F.col("vec_id").alias("query_id"),
            F.explode(model.probe_udf()(F.col("embedding"))).alias("list_id"),
        )

    def sharded_probe():
        return probe_sharded(queries, model)

    arms = [("closure", closure_assign, closure_probe),
            ("sharded", sharded_assign, sharded_probe)]
    if rev:
        arms.reverse()
    order = [arms[0], arms[1], arms[0], arms[1]]

    times: dict[str, dict[str, list[float]]] = {
        "closure": {"assign": [], "probe": []},
        "sharded": {"assign": [], "probe": []},
    }
    for i, (name, fa, fp) in enumerate(order):
        ta = _timed_write(fa(), f"{OUT}/assign_{name}_{i}")
        tp = _timed_write(fp(), f"{OUT}/probe_{name}_{i}")
        times[name]["assign"].append(ta)
        times[name]["probe"].append(tp)
        print(f"run {i} {name}: assign {ta:.1f}s probe {tp:.1f}s", flush=True)

    # equality, distributed (first run of each arm)
    ia = [i for i, (n, _, _) in enumerate(order) if n == "closure"][0]
    ib = [i for i, (n, _, _) in enumerate(order) if n == "sharded"][0]
    ca = spark.read.parquet(f"{OUT}/assign_closure_{ia}")
    sa = spark.read.parquet(f"{OUT}/assign_sharded_{ib}")
    assign_mismatch = (
        ca.join(sa.withColumnRenamed("list_id", "l2").withColumnRenamed("center_dist", "d2"),
                "vec_id", "full")
        .where((F.col("list_id") != F.col("l2")) | (F.col("center_dist") != F.col("d2"))
               | F.col("list_id").isNull() | F.col("l2").isNull())
        .count()
    )
    cp = spark.read.parquet(f"{OUT}/probe_closure_{ia}")
    sp = spark.read.parquet(f"{OUT}/probe_sharded_{ib}")
    probe_mismatch = (
        cp.groupBy("query_id", "list_id").count().withColumnRenamed("count", "c1")
        .join(sp.groupBy("query_id", "list_id").count().withColumnRenamed("count", "c2"),
              ["query_id", "list_id"], "full")
        .where(F.col("c1").isNull() | F.col("c2").isNull() | (F.col("c1") != F.col("c2")))
        .count()
    )

    med = {
        k: {p: sorted(v)[len(v) // 2] for p, v in d.items()} for k, d in times.items()
    }
    print(json.dumps({
        "nlist": nlist,
        "corpus": emb.count(),
        "order": "rev" if rev else "fwd",
        "times": times,
        "median": med,
        "ratio_assign": round(med["sharded"]["assign"] / med["closure"]["assign"], 3),
        "ratio_probe": round(med["sharded"]["probe"] / med["closure"]["probe"], 3),
        "assign_mismatch": assign_mismatch,
        "probe_mismatch": probe_mismatch,
    }), flush=True)


if __name__ == "__main__":
    main()
