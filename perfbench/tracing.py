"""Traced runs: spans around the package's public functions, Spark job and
stage metrics from the UI's REST API, and the per-layer metrics built from
both.

Nothing here edits the package. `install` swaps module and class attributes
for timing wrappers, from outside; each wrapper that can start Spark jobs
tags its thread's jobs with the span id (`setJobGroup`), which also covers
the server's handler threads, since the wrapper runs in the thread that
makes the call. Spans stay in memory until `write` at the end of the run.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

from stats import lock_windows, median, union_ms

SERVER_OPS = ("search", "index", "get_doc", "refresh")
IO_FNS = ("fs_exists", "fs_isdir", "fs_delete", "fs_touch", "fs_rename", "fs_write_text")
# what spark_jobs sums over the stages each job ran
JOB_FIELDS = (
    "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes", "records_read",
    "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
# per-layer metrics the workloads add to layer_metrics' own
EXTRA_LAYERS = {
    "loadgen.sent": "count",
    "loadgen.failed": "count",
    "loadgen.repeat_share": "ratio",
    "trace.overhead.search_p50_ms": "ms",
    "trace.overhead.search_qps": "1/s",
    "lsh.index.vps": "1/s",
}


class Tracer:
    """Collects spans: name, wall-clock start and end, parent span, thread
    and attributes. Disabled, a wrapper only forwards the call."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._sc = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def bind(self, sc) -> None:
        self._sc = sc

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, entry) -> None:
        if entry is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(str(entry[0]), entry[1])

    @contextmanager
    def span(self, name: str, spark_jobs: bool = True, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "parent": stack[-1][0] if stack else None,
            "name": name,
            "thread": threading.get_ident(),
            "attrs": attrs,
            "t0": time.time(),
        }
        tags = spark_jobs and self._sc is not None
        stack.append((rec["id"], name, tags))
        if tags:
            self._set_group(stack[-1])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            if tags:
                self._set_group(next((e for e in reversed(stack) if e[2]), None))
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, spark_jobs: bool = True, attrs=None) -> None:
        static = inspect.getattr_static(owner, attr)
        is_cm = isinstance(static, classmethod)
        orig = static.__func__ if is_cm else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            extra = attrs(*args, **kwargs) if attrs is not None else {}
            with self.span(name, spark_jobs, **extra):
                return orig(*args, **kwargs)

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)


def install(tracer: Tracer) -> None:
    """Wrap the public functions of each layer the benchmark measures."""
    from elastik_nearest_neighbors_spark import api, io, server
    from elastik_nearest_neighbors_spark.operators import knn, lsh
    from elastik_nearest_neighbors_spark.sources import index_store

    def doc_attr(_self, _index, doc_id, *_a, **_k):
        return {"doc_id": str(doc_id)}

    srv = server.AknnHttpServer
    tracer.wrap(srv, "search", "server.search", attrs=doc_attr)
    for op in ("msearch", "index", "get_doc", "refresh", "create"):
        tracer.wrap(srv, op, f"server.{op}")
    for fn in ("aknn_create", "aknn_index", "aknn_search"):
        tracer.wrap(api, fn, f"api.{fn}")
        if hasattr(server, fn):  # bound by name at import time
            setattr(server, fn, getattr(api, fn))
    tracer.wrap(lsh.LshModel, "from_sample", "lsh.from_sample", spark_jobs=False)
    tracer.wrap(lsh.LshModel, "with_hashes", "lsh.with_hashes")
    tracer.wrap(knn, "rank_term_matches", "knn.rank_term_matches")
    api.rank_term_matches = knn.rank_term_matches
    for fn in ("clustered", "pruned_dynamic_overwrite"):
        tracer.wrap(index_store, fn, f"store.{fn}")
    for fn in IO_FNS:
        tracer.wrap(io, fn, f"io.{fn}", spark_jobs=False)
    tracer.wrap(io, "read_parquet", "io.read_parquet")


# ---- Spark's REST API ------------------------------------------------------


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.fromisoformat(stamp.replace("GMT", "+00:00")).timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def spark_jobs(sc) -> dict[int, dict]:
    """Every job the UI still holds, with the metrics of the stages it ran.

    A stage belongs to the first job that lists it; later jobs that list it
    skipped it."""
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs: list = []
    for _ in range(50):  # the listener bus posts job ends asynchronously
        jobs = _get(base + "/jobs")
        if all(j.get("completionTime") for j in jobs):
            break
        time.sleep(0.1)
    stages: dict[int, list] = {}
    for st in _get(base + "/stages"):
        if st["status"] in ("COMPLETE", "FAILED"):
            stages.setdefault(st["stageId"], []).append(st)
    out: dict[int, dict] = {}
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
        out[j["jobId"]] = {
            "group": j.get("jobGroup"),
            "t0": _epoch(j.get("submissionTime")),
            "t1": _epoch(j.get("completionTime")),
            **dict.fromkeys(JOB_FIELDS, 0),
        }
    for sid, attempts in stages.items():
        job = out.get(owner.get(sid))
        if job is None:
            continue
        job["stages"] += 1
        for st in attempts:
            job["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            job["run_ms"] += st["executorRunTime"]
            job["cpu_ms"] += st["executorCpuTime"] / 1e6
            job["gc_ms"] += st.get("jvmGcTime", 0)
            job["input_bytes"] += st["inputBytes"]
            job["records_read"] += st["inputRecords"] + st["shuffleReadRecords"]
            job["output_bytes"] += st["outputBytes"]
            job["shuffle_read_bytes"] += st["shuffleReadBytes"]
            job["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            job["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    return out


# ---- spans + jobs -> per-layer metrics ---------------------------------------


class Analysis:
    """Spans joined with the Spark jobs their ids tagged."""

    def __init__(self, spans: list[dict], jobs: dict[int, dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        self.own_jobs: dict[int, list[dict]] = {}
        for j in jobs.values():
            if j["group"] and j["group"].isdigit():
                self.own_jobs.setdefault(int(j["group"]), []).append(j)

    def top(self, name: str, after: float = 0.0) -> list[dict]:
        """Spans called `name` with no enclosing span of the same layer."""
        layer = name.split(".")[0]
        out = []
        for s in self.spans:
            if s["name"] != name or s["t0"] < after:
                continue
            p = self.by_id.get(s["parent"])
            while p is not None and not p["name"].startswith(layer + "."):
                p = self.by_id.get(p["parent"])
            if p is None:
                out.append(s)
        return sorted(out, key=lambda s: s["t0"])

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def jobs(self, span: dict) -> list[dict]:
        return [j for s in self.subtree(span) for j in self.own_jobs.get(s["id"], [])]

    def total(self, spans: list[dict], key: str) -> float:
        return sum(j[key] for s in spans for j in self.jobs(s))

    def job_wall_ms(self, span: dict) -> float:
        return union_ms([(j["t0"], j["t1"]) for j in self.jobs(span) if j["t0"] and j["t1"]])

    def self_ms(self) -> dict[str, float]:
        """Each layer's self time: its spans' durations minus the part of
        them that child spans cover (children of one span may overlap
        only across threads, which the union absorbs)."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = [(c["t0"], c["t1"]) for c in self.children.get(s["id"], [])]
            own = (s["t1"] - s["t0"]) * 1000.0 - union_ms(kids)
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + own
        return out


def _ms(span: dict) -> float:
    return (span["t1"] - span["t0"]) * 1000.0


def layer_metrics(a: Analysis, ctx: dict) -> dict[str, tuple[float, str]]:
    """The per-layer metrics (name -> (value, unit)). `ctx` names the
    operation spans of the timed window and the run's sizes:

    ops          top spans of the traced window's search operations
    index        top spans of the indexing calls
    requests     client (start, end, doc_id) of each traced HTTP search
    window       (start, end) of the traced window
    queries      queries answered per op; k2, cores, user_bytes, store_dir
    """
    m: dict[str, tuple[float, str]] = {}
    ops, window = ctx["ops"], ctx["window"]

    server_calls = []
    for op in SERVER_OPS + ("msearch", "create"):
        server_calls += a.top(f"server.{op}")
    waits = dict(zip((s["id"] for s in server_calls), lock_windows([(s["t0"], s["t1"]) for s in server_calls])))
    for op in SERVER_OPS:
        calls = a.top(f"server.{op}", after=window[0] if op == "search" else 0.0)
        n = len(calls)
        m[f"server.{op}.calls"] = (n, "count")
        m[f"server.{op}.busy_ms"] = (median([waits[s["id"]][0] * 1000.0 for s in calls]), "ms")
        m[f"server.{op}.wait_ms"] = (median([waits[s["id"]][1] * 1000.0 for s in calls]), "ms")
        m[f"server.{op}.jobs_per_call"] = (len([j for s in calls for j in a.jobs(s)]) / n if n else 0.0, "count")
        m[f"server.{op}.stages_per_call"] = (a.total(calls, "stages") / n if n else 0.0, "count")
    searches = a.top("server.search", after=window[0])
    overhead = []
    for c0, c1, doc in ctx.get("requests", []):
        match = [s for s in searches if s["attrs"]["doc_id"] == doc and c0 <= s["t0"] and s["t1"] <= c1]
        if match:
            overhead.append((c1 - c0) * 1000.0 - _ms(match[0]))
    m["server.http_overhead_ms"] = (median(overhead), "ms")

    for fn in ("aknn_create", "aknn_index", "aknn_search"):
        m[f"api.{fn}.plan_ms"] = (median([_ms(s) for s in a.top(f"api.{fn}")]), "ms")

    index = ctx["index"]
    m["lsh.create_ms"] = (median([_ms(s) for s in a.top("lsh.from_sample")]), "ms")
    m["lsh.index.wall_ms"] = (median([a.job_wall_ms(s) for s in index]), "ms")
    m["lsh.index.executor_cpu_ms"] = (a.total(index, "cpu_ms") / max(len(index), 1), "ms")

    n_ops = max(len(ops), 1)
    m["knn.search.wall_ms"] = (median([a.job_wall_ms(s) for s in ops]), "ms")
    m["knn.search.jobs"] = (len([j for s in ops for j in a.jobs(s)]) / n_ops, "count")
    m["knn.search.stages"] = (a.total(ops, "stages") / n_ops, "count")
    m["knn.search.tasks"] = (a.total(ops, "tasks") / n_ops, "count")
    m["knn.search.shuffle_bytes"] = (a.total(ops, "shuffle_read_bytes") / n_ops, "B")
    results = len(ops) * ctx["queries"] * ctx["k2"]
    m["knn.rows_examined_per_result"] = (a.total(ops, "records_read") / results if results else 0.0, "ratio")

    writes = ctx["writes"]
    m["store.bytes_written_per_user_byte"] = (a.total(writes, "output_bytes") / ctx["user_bytes"], "ratio")
    m["store.input_bytes_per_search"] = (a.total(ops, "input_bytes") / n_ops, "B")
    files = dirs = 0
    for _root, ds, fs in os.walk(ctx["store_dir"]):
        dirs += len(ds)
        files += len(fs)
    m["store.files"] = (files, "count")
    m["store.dirs"] = (dirs, "count")
    m["store.refresh_ms"] = (sum(_ms(s) for s in a.top("server.refresh")), "ms")

    callers = server_calls or ops
    io_spans = [s for c in callers for s in a.subtree(c) if s["name"].startswith("io.")]
    m["io.fs_calls_per_call"] = (len(io_spans) / max(len(callers), 1), "count")
    m["io.fs_ms_per_call"] = (sum(_ms(s) for s in io_spans) / max(len(callers), 1), "ms")

    m["session.start_ms"] = (sum(_ms(s) for s in a.top("session.get_spark")), "ms")

    for key, name, unit in (
        ("stages", "stages", "count"),
        ("tasks", "tasks", "count"),
        ("run_ms", "executor_run_ms", "ms"),
        ("cpu_ms", "executor_cpu_ms", "ms"),
        ("gc_ms", "gc_ms", "ms"),
        ("shuffle_write_bytes", "shuffle_write_bytes", "B"),
        ("spill_bytes", "spill_bytes", "B"),
    ):
        m[f"spark.{name}"] = (a.total(ops, key) / n_ops, unit)
    m["spark.jobs"] = (len([j for s in ops for j in a.jobs(s)]) / n_ops, "count")
    span_s = window[1] - window[0]
    m["spark.slot_utilization"] = (a.total(ops, "run_ms") / (span_s * 1000.0 * ctx["cores"]), "ratio")
    # a server call's lock wait is not driver work
    busy = [waits[s["id"]][0] * 1000.0 if s["id"] in waits else _ms(s) for s in ops]
    m["spark.driver_gap_ms"] = (median([b - a.job_wall_ms(s) for b, s in zip(busy, ops)]), "ms")
    return m


def write(path, tracer: Tracer, a: Analysis, metrics: dict) -> None:
    with open(path, "w") as fh:
        json.dump(
            {"layer_self_ms": a.self_ms(), "metrics": metrics, "spans": tracer.spans},
            fh,
        )
