"""Vector column functions — pure Catalyst expressions (JVM-side, inside
whole-stage codegen; no Python in the hot path).

These implement the distance semantics of the reference's search re-rank
(exact euclidean over stored vectors; EsAknn `_aknn_search`) plus the
cosine/dot/hamming family the pipeline operators need.

Determinism note: ``F.aggregate`` folds left-to-right, so float sums are
order-deterministic per row; outputs that feed ranking or oracles are rounded
to ``DIST_ROUND`` decimals to absorb last-ulp differences vs DuckDB.

``euclidean_np`` and ``rounded_np`` are the numpy twins of ``euclidean`` and
``rounded`` for driver-side ranking (the HTTP server's snapshot), bit for bit
(tests/test_properties.py compares them with the Catalyst expressions).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..constants import DIST_ROUND


def as_double(arr: Column | str) -> Column:
    """Cast array<float> -> array<double> so all math runs in float64."""
    return F.transform(F.col(arr) if isinstance(arr, str) else arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def sq_euclidean(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def euclidean(a: Column, b: Column) -> Column:
    return F.sqrt(sq_euclidean(a, b))


def euclidean_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """`euclidean` over the last axis of two float64 arrays broadcast
    against each other. The squared differences are folded left to right
    from 0.0 as F.aggregate folds them (np.sum adds pairwise, which can
    differ in the last bit), then sqrt."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for x, y in zip(np.moveaxis(a, -1, 0), np.moveaxis(b, -1, 0)):
        d = x - y
        acc += d * d
    return np.sqrt(acc)


# enough digits to quantize any finite double to DIST_ROUND places
_ROUND_CTX = Context(prec=400)


def rounded_np(x: np.ndarray, places: int = DIST_ROUND) -> np.ndarray:
    """`rounded` over a float64 array: Spark rounds a double HALF_UP on its
    decimal string (BigDecimal.valueOf, i.e. the JDK's Double.toString);
    this rounds Python's shortest round-trip repr the same way. Non-finite
    values pass through, as in Spark."""
    x = np.asarray(x, dtype=np.float64)
    step = Decimal(1).scaleb(-places)
    out = [
        float(Decimal(repr(v)).quantize(step, ROUND_HALF_UP, _ROUND_CTX)) if math.isfinite(v) else v
        for v in x.ravel().tolist()
    ]
    return np.array(out, dtype=np.float64).reshape(x.shape)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def rounded(c: Column, places: int = DIST_ROUND) -> Column:
    return F.round(c, places)
