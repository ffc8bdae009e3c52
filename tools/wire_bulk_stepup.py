"""Wire bulk-ingest A/B at the 200k-vector step-up (r12, #162 evidence —
the r11 verdict's stretch 7): immediate mode (every /_aknn_index batch
pays the full replace-on-index machinery — r11 measured 749 s for 200k in
40 batches) versus bulk mode (refresh=false staging appends + ONE
/_aknn_refresh, which merges into the empty index as one clustered
append).

Both arms load the same corpus into the same store layout and both are
verified by the same post-load searches, so the comparison is
load-path-only. Target (verdict): bulk ≥ 5× faster end-to-end.

After the bulk load it also measures serving at that size: the first
search, which builds the index's driver snapshot (snapshot_build_s), the
median of 50 GET /_aknn_search calls over spread-out ids
(search_p50_ms), the snapshot's array bytes (snapshot_mb), and the
high-water resident memory (VmHWM) of this Python driver process, which
holds the snapshot, and of the Spark driver JVM (vmhwm_python_mb,
vmhwm_jvm_mb). Spark runs local[SPARK_GRAFT_CPUS] (default 32).

Last, it re-stages the whole corpus with every component doubled (exact
in IEEE) and refreshes again: a corpus-sized replace into the populated
index (restage_s, rerefresh_s), checked by one doc GET of a doubled doc.

Usage: python tools/wire_bulk_stepup.py [SF_DIR] [--skip-immediate]
       (default /tmp/enn_scale/sf10 — 200k vectors; --skip-immediate
       reuses r11's committed 749 s instead of re-measuring, for quick
       re-runs.)

Prints one JSON line {n_docs, immediate_s, bulk_stage_s, bulk_refresh_s,
bulk_total_s, snapshot_build_s, search_p50_ms, snapshot_mb, vmhwm_python_mb,
vmhwm_jvm_mb, restage_s, rerefresh_s, speedup, search_equal}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCH = 5000


def _load(srv_port, docs, _http_post, bulk: bool) -> dict:
    from elastik_nearest_neighbors_spark.constants import LSH_BITS, LSH_TABLES

    need = 2 * LSH_TABLES * LSH_BITS
    out: dict = {}
    t0 = time.perf_counter()
    _http_post(srv_port, "/_aknn_create", {"_id": "m", "docs": docs[:need]})
    for i in range(0, len(docs), BATCH):
        payload = {"model": "m", "_index": "v", "docs": docs[i : i + BATCH]}
        if bulk:
            payload["refresh"] = False
        _http_post(srv_port, "/_aknn_index", payload)
    out["stage_s"] = round(time.perf_counter() - t0, 1)
    if bulk:
        t0 = time.perf_counter()
        merged = _http_post(srv_port, "/_aknn_refresh", {"_index": "v"})["merged"]
        out["refresh_s"] = round(time.perf_counter() - t0, 1)
        assert merged == len(docs), (merged, len(docs))
    out["total_s"] = out["stage_s"] + out.get("refresh_s", 0.0)
    return out


def _rerefresh(srv_port, docs, _http_get, _http_post) -> dict:
    """Stage every doc again with its components doubled, then time the
    refresh that merges them into the populated index."""

    def doubled(d: dict) -> dict:
        return {"_id": d["_id"], "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}

    t0 = time.perf_counter()
    for i in range(0, len(docs), BATCH):
        batch = [doubled(d) for d in docs[i : i + BATCH]]
        _http_post(srv_port, "/_aknn_index", {"model": "m", "_index": "v", "docs": batch, "refresh": False})
    out = {"restage_s": round(time.perf_counter() - t0, 1)}
    t0 = time.perf_counter()
    merged = _http_post(srv_port, "/_aknn_refresh", {"_index": "v"})["merged"]
    out["rerefresh_s"] = round(time.perf_counter() - t0, 1)
    assert merged == len(docs), (merged, len(docs))
    d = doubled(docs[100])
    assert _http_get(srv_port, f"/v/{d['_id']}")["_source"] == d["_source"]
    return out


def _vmhwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM")) / 1024.0


def _serving(srv_port, docs, _http_get) -> dict:
    """Snapshot build (the first search after the load), then the median
    of 50 searches over ids spread across the corpus."""
    t0 = time.perf_counter()
    res = _http_get(srv_port, f"/v/{docs[100]['_id']}/_aknn_search?k1=100&k2=10")
    out = {"snapshot_build_s": round(time.perf_counter() - t0, 2)}
    assert res["hits"]["total"] > 0
    lat = []
    for d in docs[:: max(1, len(docs) // 50)][:50]:
        t0 = time.perf_counter()
        _http_get(srv_port, f"/v/{d['_id']}/_aknn_search?k1=100&k2=10")
        lat.append((time.perf_counter() - t0) * 1000.0)
    out["search_p50_ms"] = round(statistics.median(lat), 2)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/tmp/enn_scale/sf10"
    skip_immediate = "--skip-immediate" in sys.argv
    from elastik_nearest_neighbors_spark import io
    from elastik_nearest_neighbors_spark.server import (
        AknnHttpServer,
        _http_get,
        _http_post,
    )
    from elastik_nearest_neighbors_spark.session import get_spark

    spark = get_spark(app_name="enn-wire-bulk")
    spark.sparkContext.setLogLevel("ERROR")
    emb = io.table(spark, sf_dir, "embeddings", widen=True)
    docs = [
        {"_id": int(r.vec_id), "_source": {"_aknn_vector": list(r.embedding)}}
        for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ]
    report: dict = {"sf_dir": sf_dir, "n_docs": len(docs)}

    bulk_srv = AknnHttpServer(spark, tempfile.mkdtemp(prefix="enn_wire_bulk_")).start()
    b = _load(bulk_srv.port, docs, _http_post, bulk=True)
    report["bulk_stage_s"] = b["stage_s"]
    report["bulk_refresh_s"] = b["refresh_s"]
    report["bulk_total_s"] = b["total_s"]

    report.update(_serving(bulk_srv.port, docs, _http_get))
    snap = bulk_srv._snapshot("v")
    arrays = [snap.ids, snap.vecs, snap.hashes, snap.ntab] + [a for p in snap.postings for a in p]
    report["snapshot_mb"] = round(sum(a.nbytes for a in arrays) / 2**20, 1)
    report["vmhwm_python_mb"] = round(_vmhwm_mb("self"), 1)
    report["vmhwm_jvm_mb"] = round(_vmhwm_mb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()), 1)

    if skip_immediate:
        report["immediate_s"] = 749.0
        report["immediate_source"] = "r11 committed step-up (same corpus/batching)"
    else:
        imm_srv = AknnHttpServer(spark, tempfile.mkdtemp(prefix="enn_wire_imm_")).start()
        report["immediate_s"] = _load(imm_srv.port, docs, _http_post, bulk=False)["total_s"]
        # both arms must serve identically before either server goes away
        qids = [docs[100]["_id"], docs[2025]["_id"], docs[77]["_id"]]
        equal = all(
            _http_get(bulk_srv.port, f"/v/{q}/_aknn_search?k1=100&k2=10")
            == _http_get(imm_srv.port, f"/v/{q}/_aknn_search?k1=100&k2=10")
            for q in qids
        )
        report["search_equal"] = equal
        imm_srv.stop()
        assert equal
    report.update(_rerefresh(bulk_srv.port, docs, _http_get, _http_post))
    bulk_srv.stop()

    report["speedup"] = round(report["immediate_s"] / report["bulk_total_s"], 2)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
