"""The benchmark's workloads. Each builds its inputs from the seed, sets up,
measures for the given number of seconds, checks every answer, and returns
its end-to-end metrics (and, traced, its per-layer metrics).

Sizes are fixed here, not by options: a change to one is a change to the
benchmark. Why each workload exists is recorded in BENCHMARK.json and in
README.md beside this file.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import resource
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import tracing
from stats import median, supported_tail

from elastik_nearest_neighbors_spark.constants import DIST_ROUND, LSH_BITS, LSH_TABLES

K1, K2 = 100, 10
# recall@10 of the current engine ranged 0.71-0.89 over the seeds tried; a
# drop below the floor is an answer quality regression, not noise
RECALL_FLOOR = {"serve_search": 0.6, "batch_ann": 0.6}

# Both corpora have about 100 vectors per cluster: a query's true top-10
# sit in its own cluster, which k1 = 100 candidates can cover, so recall is
# high and varies little between seeds.
#
# serve_search: the corpus is 2.4x the server's 4096-entry doc cache, and
# HOT ids are fetched into that cache during set-up; Zipf(ZIPF_S) sends
# about three quarters of the timed requests to them.
SERVE_N, SERVE_CLUSTERS, STAGE_BATCH = 10_000, 100, 5_000
HOT, ZIPF_S, WARM_SEARCHES = 32, 1.3, 2

# batch_ann: no server, so no doc cache; every query id is distinct.
BATCH_N, BATCH_CLUSTERS, BATCH_Q, WARM_CALLS = 50_000, 500, 16, 4


class Run:
    """One benchmark run: its arguments, tracer, work dir and tallies."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool, work: Path):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.work = work
        self.tracer = tracing.Tracer()
        self.attempted = 0
        self.failed = 0
        self.recall = 0.0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 5:
                print(f"wrong: {what}", file=sys.stderr)
        return ok


def log(msg: str) -> None:
    print(f"[{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def start_session(run: Run):
    from elastik_nearest_neighbors_spark.session import get_spark

    if run.traced:
        tracing.install(run.tracer)
        run.tracer.enabled = True
    with run.tracer.span("session.get_spark", spark_jobs=False):
        spark = get_spark(cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    run.tracer.bind(spark.sparkContext)
    return spark


def peak_rss_mb(spark) -> float:
    """High-water resident memory of the driver JVM plus this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def dir_bytes(path) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def hits_ok(x: np.ndarray, qid: int, hits: list[tuple[int, float]]) -> str | None:
    """Why a hit list is wrong, or None: k2 hits, no self-match, sorted by
    (distance, id), each distance the exact rounded euclidean distance."""
    if len(hits) != K2:
        return f"{len(hits)} hits"
    ids = [h[0] for h in hits]
    if qid in ids or len(set(ids)) != K2:
        return "self-match or duplicate"
    if sorted(hits, key=lambda h: (h[1], h[0])) != hits:
        return "not sorted by distance"
    want = gen.exact_distances(x[ids], x[qid], DIST_ROUND)
    if [h[1] for h in hits] != want:
        return f"distances {[h[1] for h in hits]} != {want}"
    return None


def checked(run: Run, x: np.ndarray, hit_lists: dict[int, list]) -> dict[int, list[int]]:
    """Check each query's hit list; return the hit ids of the right ones."""
    out = {}
    for q, hits in hit_lists.items():
        why = hits_ok(x, q, hits)
        if run.check(why is None, f"query {q}: {why}"):
            out[q] = [h[0] for h in hits]
    return out


def recall_at_10(x: np.ndarray, asked: list[int], answers: dict[int, list[int]]) -> float:
    """Mean share of each asked query's exact top-10 found in its answer;
    a query with a wrong answer scores 0."""
    truth = gen.exact_topk(x, asked, 10, DIST_ROUND)
    return float(np.mean([len(set(answers.get(q, [])) & set(truth[q])) / 10.0 for q in asked]))


def _latency_metrics(lat_ms: list[float], answered: int, elapsed: float) -> dict:
    return {
        "search_p50_ms": median(lat_ms),
        "search_qps": answered / elapsed if elapsed > 0 else 0.0,
    }


# ---- serve_search ------------------------------------------------------------


def _http(port: int, method: str, path: str, body=None) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=600)
    try:
        data = None if body is None else json.dumps(body)
        conn.request(method, path, body=data, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def _post_ok(port: int, path: str, body: dict) -> dict:
    status, out = _http(port, "POST", path, body)
    if status != 200:
        raise RuntimeError(f"{path}: HTTP {status}: {out}")
    return out


def _search(port: int, q: int) -> tuple:
    """One search, as (wall start, wall end, id, status, body)."""
    t0 = time.time()
    try:
        status, body = _http(port, "GET", f"/v/{q}/_aknn_search?k1={K1}&k2={K2}")
    except OSError as exc:
        status, body = None, {"error": repr(exc)}
    return (t0, time.time(), q, status, body)


def closed_loop(port: int, ids, seconds: float) -> list[tuple]:
    """One client sending its next search only after the previous answer,
    for `seconds`. The server answers one search at a time, so a second
    client would only add lock wait, in an order the scheduler picks."""
    records = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        records.append(_search(port, int(next(ids))))
    return records


def _check_search(run: Run, x: np.ndarray, record: tuple) -> bool:
    _t0, _t1, q, status, body = record
    hits = [(h["_id"], h["_score"]) for h in body.get("hits", {}).get("hits", [])]
    why = f"HTTP {status}: {body.get('error')}" if status != 200 else hits_ok(x, q, hits)
    return run.check(why is None, f"search {q}: {why}")


def _serve_window(run: Run, port: int, x: np.ndarray, ids) -> tuple[dict, list, tuple]:
    records = closed_loop(port, ids, run.seconds)
    lat = [(r[1] - r[0]) * 1000.0 for r in records if _check_search(run, x, r)]
    tail = supported_tail(len(lat))
    log(f"window: {len(lat)} searches, ms {[round(v) for v in lat]}; " + (f"p{tail} has 10 samples beyond it" if tail else "no tail percentile has 10 samples beyond it"))
    window = (records[0][0], records[-1][1])
    return _latency_metrics(lat, len(lat), window[1] - window[0]), records, window


def serve_search(run: Run) -> tuple[dict, dict]:
    from elastik_nearest_neighbors_spark.server import AknnHttpServer

    x = gen.corpus(run.seed, SERVE_N, SERVE_CLUSTERS)
    docs = [{"_id": i, "_source": {"_aknn_vector": v}} for i, v in enumerate(x.tolist())]
    hot = [int(i) for i in gen.hot_ids(run.seed, SERVE_N, HOT)]
    stream = itertools.cycle(gen.zipf_ids(run.seed, SERVE_N, 50_000, ZIPF_S).tolist())

    t_setup = time.perf_counter()
    spark = start_session(run)
    srv = AknnHttpServer(spark, str(run.work / "server"), store_backed=True).start()
    try:
        need = 2 * LSH_TABLES * LSH_BITS
        _post_ok(srv.port, "/_aknn_create", {"_id": "m", "nb_tables": LSH_TABLES, "nb_bits_per_table": LSH_BITS, "docs": docs[:need]})
        t_load = time.perf_counter()
        for i in range(0, SERVE_N, STAGE_BATCH):
            body = {"model": "m", "_index": "v", "refresh": False, "docs": docs[i : i + STAGE_BATCH]}
            run.check(_post_ok(srv.port, "/_aknn_index", body).get("staged") == len(body["docs"]), "staged count")
        merged = _post_ok(srv.port, "/_aknn_refresh", {"_index": "v"}).get("merged")
        run.check(merged == SERVE_N, f"refresh merged {merged} of {SERVE_N}")
        # no /_aknn_compact: a refresh into an empty index appends one file
        # per partition directory, which is already the compacted layout
        t_msearch = time.perf_counter()
        load_s = t_msearch - t_load
        # warm-up: fill the doc cache with the hot ids; their answers are
        # the recall set
        res = _post_ok(srv.port, "/v/_aknn_msearch", {"ids": hot, "k1": K1, "k2": K2})["responses"]
        answers = checked(run, x, {q: [(h["_id"], h["_score"]) for h in r["hits"]["hits"]] for q, r in zip(hot, res)})
        t_search, warm = time.perf_counter(), list(hot)
        for _ in range(WARM_SEARCHES):
            warm.append(int(next(stream)))
            _check_search(run, x, _search(srv.port, warm[-1]))
        setup_s = time.perf_counter() - t_setup
        log(
            f"setup {setup_s:.1f}s: session and create {t_load - t_setup:.1f}s, "
            f"bulk load {load_s:.1f}s, msearch {t_search - t_msearch:.1f}s, warm-up searches {t_setup + setup_s - t_search:.1f}s"
        )

        layers = {}
        if run.traced:
            run.tracer.enabled = False
            plain, _, _ = _serve_window(run, srv.port, x, stream)
            run.tracer.enabled = True
        e2e, records, window = _serve_window(run, srv.port, x, stream)

        for q in hot[:2] + [records[0][2], records[-1][2]]:
            status, doc = _http(srv.port, "GET", f"/v/{q}")
            vec = doc.get("_source", {}).get("_aknn_vector")
            run.check(status == 200 and vec == x[q].tolist(), f"GET /v/{q}: HTTP {status}")
        run.recall = recall_at_10(x, hot, answers)
        store = run.work / "server" / "indexes" / "v"
        e2e.update(
            setup_s=setup_s,
            index_vps=SERVE_N / load_s,
            recall_at_10=run.recall,
            peak_rss_mb=peak_rss_mb(spark),
            disk_bytes_per_user_byte=dir_bytes(store) / x.nbytes,
        )
        if run.traced:
            a = tracing.Analysis(run.tracer.spans, tracing.spark_jobs(spark.sparkContext))
            writes = [s for op in ("index", "refresh") for s in a.top(f"server.{op}")]
            ctx = {
                "ops": a.top("server.search", after=window[0]),
                "index": a.top("server.index"),
                "writes": writes,
                "requests": [(r[0], r[1], str(r[2])) for r in records],
                "sent": len(records),
                "window": window,
                "queries": 1,
                "k2": K2,
                "cores": spark.sparkContext.defaultParallelism,
                "user_bytes": x.nbytes,
                "store_dir": store,
            }
            layers = _traced_layers(run, a, ctx, e2e, plain, stream_repeats(warm, records))
        return e2e, layers
    finally:
        srv.stop()
        spark.stop()


def stream_repeats(warm: list[int], records: list[tuple]) -> float:
    """Share of timed requests whose id was asked before in the run: the
    requests the server's doc cache can answer without a fetch."""
    seen = set(warm)
    repeats = 0
    for r in sorted(records):
        repeats += r[2] in seen
        seen.add(r[2])
    return repeats / len(records) if records else 0.0


# ---- batch_ann ---------------------------------------------------------------


def batch_ann(run: Run) -> tuple[dict, dict]:
    from elastik_nearest_neighbors_spark import api  # looked up per call, so traced runs see the wrappers

    x = gen.corpus(run.seed, BATCH_N, BATCH_CLUSTERS)
    src = run.work / "corpus.parquet"
    pq.write_table(
        pa.table({"_id": pa.array(np.arange(BATCH_N), pa.int64()), "_aknn_vector": pa.array(list(x), pa.list_(pa.float64()))}),
        src,
    )
    ids = gen.distinct_ids(run.seed, BATCH_N, BATCH_N).tolist()

    t_setup = time.perf_counter()
    spark = start_session(run)
    try:
        docs = spark.read.parquet(str(src))
        with run.tracer.span("bench.create"):
            model = api.aknn_create(docs)
        t0 = time.perf_counter()
        with run.tracer.span("bench.index"):
            api.aknn_index(docs, model).write.parquet(str(run.work / "index"))
        index_s = time.perf_counter() - t0
        indexed = spark.read.parquet(str(run.work / "index"))

        def search(qids: list[int]) -> dict[int, list]:
            rows = api.aknn_search(indexed, qids, K1, K2).collect()
            by_q: dict[int, list] = {q: [] for q in qids}
            for r in rows:
                by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.distance))
            for hits in by_q.values():
                hits.sort(key=lambda h: (h[1], h[0]))
            return by_q

        # warm-up: WARM_CALLS calls; their answers are the recall set
        recall_ids = ids[: WARM_CALLS * BATCH_Q]
        answers, t_warm = {}, time.perf_counter()
        for i in range(0, len(recall_ids), BATCH_Q):
            answers.update(checked(run, x, search(recall_ids[i : i + BATCH_Q])))
        setup_s = time.perf_counter() - t_setup
        log(f"setup {setup_s:.1f}s: index build {index_s:.1f}s, warm-up calls {t_setup + setup_s - t_warm:.1f}s")

        calls = iter(ids[i : i + BATCH_Q] for i in range(len(recall_ids), len(ids), BATCH_Q))

        def window() -> tuple[dict, tuple]:
            lat, answered, start = [], 0, time.time()
            deadline = time.perf_counter() + run.seconds
            while time.perf_counter() < deadline:
                asked = next(calls)
                t0 = time.perf_counter()
                with run.tracer.span("bench.search"):
                    by_q = search(asked)
                lat.append((time.perf_counter() - t0) * 1000.0)
                run.check(set(by_q) == set(asked), "answers for ids not asked")
                answered += len(checked(run, x, by_q))
            end = time.time()
            log(f"window: {len(lat)} calls of {BATCH_Q} queries, ms {[round(v) for v in lat]}")
            return _latency_metrics(lat, answered, end - start), (start, end)

        layers = {}
        if run.traced:
            run.tracer.enabled = False
            plain, _ = window()
            run.tracer.enabled = True
        e2e, span = window()

        run.recall = recall_at_10(x, recall_ids, answers)
        e2e.update(
            setup_s=setup_s,
            index_vps=BATCH_N / index_s,
            recall_at_10=run.recall,
            peak_rss_mb=peak_rss_mb(spark),
            disk_bytes_per_user_byte=dir_bytes(run.work / "index") / x.nbytes,
        )
        if run.traced:
            a = tracing.Analysis(run.tracer.spans, tracing.spark_jobs(spark.sparkContext))
            index = a.top("bench.index")
            ops = a.top("bench.search", after=span[0])
            ctx = {
                "ops": ops,
                "index": index,
                "writes": index,
                "requests": [],
                "sent": len(ops) * BATCH_Q,
                "window": span,
                "queries": BATCH_Q,
                "k2": K2,
                "cores": spark.sparkContext.defaultParallelism,
                "user_bytes": x.nbytes,
                "store_dir": run.work / "index",
            }
            layers = _traced_layers(run, a, ctx, e2e, plain, 0.0)
        return e2e, layers
    finally:
        spark.stop()


def _traced_layers(run: Run, a, ctx: dict, traced: dict, plain: dict, repeats: float) -> dict:
    layers = tracing.layer_metrics(a, ctx)
    extra = {
        "loadgen.sent": ctx["sent"],
        "loadgen.failed": run.failed,
        "loadgen.repeat_share": repeats,
        "trace.overhead.search_p50_ms": traced["search_p50_ms"] - plain["search_p50_ms"],
        "trace.overhead.search_qps": traced["search_qps"] - plain["search_qps"],
        "lsh.index.vps": traced["index_vps"],
    }
    layers.update((k, (v, tracing.EXTRA_LAYERS[k])) for k, v in extra.items())
    if ctx["requests"]:
        parts = sum(layers[k][0] for k in ("server.search.busy_ms", "server.search.wait_ms", "server.http_overhead_ms"))
        log(f"traced search_p50_ms {traced['search_p50_ms']:.0f}; server busy + wait + http overhead {parts:.0f}")
    out = run.work.parent / f"trace-{run.workload}-{run.seed}.json"
    tracing.write(out, run.tracer, a, layers)
    log(f"trace written to {out}")
    return layers


WORKLOADS = {"serve_search": serve_search, "batch_ann": batch_ann}
