"""Single-doc replace latency through the wire at scale (r11, #160
evidence): ES's serving reality is point updates — PUT one doc, its old
rows must vanish. On the (tbl, bucket)/(id_bucket) store layout a 1-doc
replace touches ≤ T term directories + 1 docs directory out of
T·n_buckets + n_buckets, so the cost must stay flat in corpus size; bulk
replace batches instead scatter across ~min(|batch|·T, dirs) directories
and approach a rebuild (the same D·T bound as index_upsert — replace in
bulk only when |batch| << n_buckets, else reindex).

Usage: python tools/wire_replace_stepup.py [SF_DIR]
       (default /tmp/enn_scale/sf10 — 200k vectors; the build phase posts
       the whole table through /_aknn_index in 5000-doc batches, a few
       minutes; opt-in, not part of the pytest suite.)

Prints one JSON line {build_s, n_docs, replace_1doc_s (median of 5),
search_after_s, dirs_touched_bound}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/enn_scale/sf10"
    from elastik_nearest_neighbors_spark import io
    from elastik_nearest_neighbors_spark.constants import LSH_BITS, LSH_TABLES
    from elastik_nearest_neighbors_spark.server import (
        AknnHttpServer,
        _http_get,
        _http_post,
    )
    from elastik_nearest_neighbors_spark.session import get_spark

    spark = get_spark(app_name="enn-wire-replace", cpus=32, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    emb = io.table(spark, sf_dir, "embeddings", widen=True)
    docs = [
        {"_id": int(r.vec_id), "_source": {"_aknn_vector": list(r.embedding)}}
        for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ]
    srv = AknnHttpServer(spark, tempfile.mkdtemp(prefix="enn_wire_replace_")).start()
    need = 2 * LSH_TABLES * LSH_BITS
    t0 = time.perf_counter()
    _http_post(srv.port, "/_aknn_create", {"_id": "m", "docs": docs[:need]})
    # build via the r12 bulk path (stage + one refresh): 5.4× the immediate
    # mode at this SF and bit-equal (tools/wire_bulk_stepup.py) — the build
    # is setup here, the measurement is the per-doc replace below
    for i in range(0, len(docs), 5000):
        _http_post(
            srv.port,
            "/_aknn_index",
            {"model": "m", "_index": "v", "docs": docs[i : i + 5000], "refresh": False},
        )
    _http_post(srv.port, "/_aknn_refresh", {"_index": "v"})
    build_s = time.perf_counter() - t0

    # point updates: replace one doc at a time, new coordinates each round
    laps = []
    for k in range(5):
        d = docs[100 + k]
        moved = {
            "_id": d["_id"],
            "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]},
        }
        t0 = time.perf_counter()
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "v", "docs": [moved]})
        laps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    res = _http_get(srv.port, f"/v/{docs[100]['_id']}/_aknn_search?k1=100&k2=10")
    search_s = time.perf_counter() - t0
    assert res["hits"]["total"] > 0
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_docs": len(docs),
                "build_s": round(build_s, 1),
                "replace_1doc_s": round(statistics.median(laps), 2),
                "replace_laps": [round(x, 2) for x in laps],
                "search_after_s": round(search_s, 2),
                "dirs_touched_bound": LSH_TABLES + 1,
            }
        )
    )
    srv.stop()
    spark.stop()


if __name__ == "__main__":
    main()
