"""Small statistics helpers shared by the workloads and the tracer."""

from __future__ import annotations

import math
import statistics

TAIL_CANDIDATES = (99.9, 99.0, 90.0, 75.0)
MIN_BEYOND = 10


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def supported_tail(n: int) -> float | None:
    """The highest percentile with at least MIN_BEYOND of `n` samples beyond
    it, or None when even the lowest candidate lacks them. A tail read from
    fewer samples is a guess at one or two outliers."""
    for p in TAIL_CANDIDATES:
        if n * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9:
            return p
    return None


def lock_windows(windows: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """(busy, wait) for each call window (start, end) of calls that run one
    at a time under a single lock, in the input order.

    Calls holding the lock finish in the order they took it, so sorted by
    end time each call can have started its work only once the call before
    it had ended: its work began at max(start, previous end), and the time
    before that was spent waiting for the lock."""
    out: list[tuple[float, float]] = [(0.0, 0.0)] * len(windows)
    prev_end = -math.inf
    for i in sorted(range(len(windows)), key=lambda i: windows[i][1]):
        start, end = windows[i]
        begin = min(max(start, prev_end), end)
        out[i] = (end - begin, begin - start)
        prev_end = max(prev_end, end)
    return out


def union_ms(spans: list[tuple[float, float]]) -> float:
    """Total length, in ms, of the union of (start, end) second intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0
