"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import tracing  # noqa: E402
from stats import lock_windows, supported_tail, union_ms  # noqa: E402


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want):
    assert supported_tail(n) == want


def test_lock_wait_of_serialized_calls():
    # A holds the lock 0..2; B arrives at 0.5 and works 2..4; C arrives at
    # 5 with the lock free; D arrives at 4.5 while nothing runs
    windows = [(0.0, 2.0), (0.5, 4.0), (5.0, 6.0), (4.5, 4.75)]
    got = lock_windows(windows)
    assert got == [(2.0, 0.0), (2.0, 1.5), (1.0, 0.0), (0.25, 0.0)]
    for (start, end), (busy, wait) in zip(windows, got):
        assert busy + wait == pytest.approx(end - start)


def test_lock_wait_of_three_queued_calls():
    # all arrive at 0; each holds the lock for 1 s in arrival order
    got = lock_windows([(0.0, 3.0), (0.0, 1.0), (0.0, 2.0)])
    assert got == [(1.0, 2.0), (1.0, 0.0), (1.0, 1.0)]


def test_union_ms_merges_overlaps():
    assert union_ms([(0.0, 1.0), (0.5, 2.0), (3.0, 3.5)]) == pytest.approx(2500.0)
    assert union_ms([]) == 0.0


def test_generators_are_deterministic_per_seed():
    assert np.array_equal(gen.corpus(7, 500, 5), gen.corpus(7, 500, 5))
    assert not np.array_equal(gen.corpus(7, 500, 5), gen.corpus(8, 500, 5))
    assert np.array_equal(gen.zipf_ids(7, 500, 100, 1.1), gen.zipf_ids(7, 500, 100, 1.1))
    assert np.array_equal(gen.distinct_ids(7, 500, 50), gen.distinct_ids(7, 500, 50))
    assert len(set(gen.distinct_ids(7, 500, 500).tolist())) == 500


def test_hot_ids_are_the_most_drawn_zipf_ids():
    draws = gen.zipf_ids(3, 1000, 20_000, 1.1)
    counts = np.bincount(draws, minlength=1000)
    assert set(np.argsort(-counts)[:3].tolist()) == set(gen.hot_ids(3, 1000, 3).tolist())


def test_spark_round_is_half_up_on_the_decimal_repr():
    # binary 2.675 is 2.67499999..., so Python's round gives 2.67; Spark
    # rounds the shortest decimal repr half up
    assert round(2.675, 2) == 2.67
    assert gen.spark_round(2.675, 2) == 2.68
    assert gen.spark_round(1.0000005, 6) == 1.000001


def test_exact_topk_matches_brute_force():
    x = gen.corpus(1, 300, 4)
    got = gen.exact_topk(x, [0, 5, 299], 10, 6)
    for q in (0, 5, 299):
        d = gen.exact_distances(x, x[q], 6)
        want = sorted((d[i], i) for i in range(len(x)) if i != q)[:10]
        assert got[q] == [i for _, i in want]


def test_tracer_wraps_classmethods_and_nests_spans():
    class Model:
        @classmethod
        def fit(cls, v):
            return v + 1

    tr = tracing.Tracer()
    tr.wrap(Model, "fit", "lsh.fit", spark_jobs=False)
    assert Model.fit(1) == 2 and tr.spans == []  # disabled: no spans
    tr.enabled = True
    with tr.span("server.search", spark_jobs=False):
        assert Model.fit(2) == 3
    inner, outer = tr.spans
    assert (inner["name"], inner["parent"]) == ("lsh.fit", outer["id"])
    assert outer["t0"] <= inner["t0"] <= inner["t1"] <= outer["t1"]


def _synthetic_analysis():
    t = 1000.0
    spans = [
        {"id": 1, "parent": None, "name": "server.search", "thread": 1, "attrs": {"doc_id": "7"}, "t0": t, "t1": t + 1.0},
        {"id": 2, "parent": 1, "name": "io.fs_isdir", "thread": 1, "attrs": {}, "t0": t + 0.1, "t1": t + 0.2},
        {"id": 3, "parent": None, "name": "server.search", "thread": 2, "attrs": {"doc_id": "8"}, "t0": t + 0.5, "t1": t + 2.0},
    ]
    job = dict.fromkeys(tracing.JOB_FIELDS, 1)
    jobs = {
        0: {**job, "group": "1", "t0": t + 0.3, "t1": t + 0.8},
        1: {**job, "group": "3", "t0": t + 1.2, "t1": t + 1.6},
    }
    return tracing.Analysis(spans, jobs)


def test_layer_metrics_split_a_search_into_busy_wait_and_http(tmp_path):
    a = _synthetic_analysis()
    ctx = {
        "ops": a.top("server.search"),
        "index": [],
        "writes": [],
        "requests": [(999.99, 1001.01, "7"), (1000.49, 1002.03, "8")],
        "sent": 2,
        "window": (999.99, 1002.03),
        "queries": 1,
        "k2": 10,
        "cores": 4,
        "user_bytes": 1000,
        "store_dir": tmp_path,
    }
    m = tracing.layer_metrics(a, ctx)
    assert m["server.search.calls"][0] == 2
    # the second call waits 0.5 s for the first to release the lock
    assert m["server.search.wait_ms"][0] == pytest.approx(250.0)
    assert m["server.search.busy_ms"][0] == pytest.approx(1000.0)
    assert m["server.http_overhead_ms"][0] == pytest.approx(30.0)
    assert m["io.fs_calls_per_call"][0] == pytest.approx(0.5)
    assert m["spark.driver_gap_ms"][0] == pytest.approx(550.0)


def test_benchmark_json_lists_the_metrics_the_runs_print(tmp_path):
    import run

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    a = _synthetic_analysis()
    ctx = {"ops": [], "index": [], "writes": [], "window": (0.0, 1.0), "queries": 1, "k2": 10,
           "cores": 1, "user_bytes": 1, "store_dir": tmp_path}
    layers = {k: u for k, (_v, u) in tracing.layer_metrics(a, ctx).items()}
    layers.update(tracing.EXTRA_LAYERS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers
