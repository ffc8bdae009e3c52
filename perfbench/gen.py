"""Seeded inputs for the benchmark: corpus, query ids and ground truth.

Every generator takes the workload seed and derives its own stream from
it, so the same seed always gives the same inputs, and changing one input
(say the query count) does not shift the others.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

DIM = 64


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def corpus(seed: int, n: int, clusters: int) -> np.ndarray:
    """`n` clustered-Gaussian float64 vectors of dimension DIM: unit-noise
    points around `clusters` centres drawn with a wider spread, so LSH
    buckets are uneven the way real embeddings are."""
    rng = _rng(seed, "corpus")
    centres = rng.standard_normal((clusters, DIM)) * 2.0
    labels = rng.integers(0, clusters, n)
    return centres[labels] + rng.standard_normal((n, DIM))


def zipf_ids(seed: int, n: int, count: int, s: float) -> np.ndarray:
    """`count` ids in [0, n) drawn with P(rank r) proportional to r**-s;
    ranks map to ids through a seeded permutation, so the hot ids are
    scattered over the corpus rather than being 0, 1, 2, ..."""
    rng = _rng(seed, "zipf")
    perm = rng.permutation(n)
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return perm[rng.choice(n, size=count, p=p / p.sum())]


def hot_ids(seed: int, n: int, count: int) -> np.ndarray:
    """The `count` most likely ids of zipf_ids(seed, n, ...), hottest first."""
    return _rng(seed, "zipf").permutation(n)[:count]


def distinct_ids(seed: int, n: int, count: int) -> np.ndarray:
    """`count` distinct ids in [0, n), in seeded order."""
    return _rng(seed, "distinct").permutation(n)[:count]


def spark_round(x: float, places: int) -> float:
    """Spark's round(double, places): HALF_UP on the shortest decimal repr."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def exact_distances(x: np.ndarray, q: np.ndarray, places: int) -> list[float]:
    """Euclidean distances from each row of `x` to `q`, bit-identical to the
    engine's Catalyst expression: squared differences folded left to right
    over the dimensions, then sqrt, then Spark's rounding."""
    acc = np.zeros(len(x))
    for j in range(x.shape[1]):
        d = x[:, j] - q[j]
        acc += d * d
    return [spark_round(v, places) for v in np.sqrt(acc)]


def exact_topk(x: np.ndarray, qids, k: int, places: int) -> dict[int, list[int]]:
    """Exact top-k neighbour ids (self excluded) of each query id, ordered
    by (rounded distance, id) like the engine's re-rank. A matrix pass picks
    4k candidates per query; exact_distances orders them."""
    qids = [int(q) for q in qids]
    norms = np.einsum("ij,ij->i", x, x)
    out: dict[int, list[int]] = {}
    for start in range(0, len(qids), 64):
        chunk = qids[start : start + 64]
        d2 = norms[:, None] - 2.0 * (x @ x[chunk].T)
        for col, q in enumerate(chunk):
            d2[q, col] = np.inf
            cand = np.argpartition(d2[:, col], 4 * k)[: 4 * k]
            dist = exact_distances(x[cand], x[q], places)
            ranked = sorted(zip(dist, cand.tolist()))
            out[q] = [i for _, i in ranked[:k]]
    return out
