"""Vector column functions — pure Catalyst expressions (JVM-side, inside
whole-stage codegen; no Python in the hot path).

These implement the distance semantics of the reference's search re-rank
(exact euclidean over stored vectors; EsAknn `_aknn_search`) plus the
cosine/dot/hamming family the pipeline operators need.

Determinism note: ``F.aggregate`` folds left-to-right, so float sums are
order-deterministic per row; outputs that feed ranking or oracles are rounded
to ``DIST_ROUND`` decimals to absorb last-ulp differences vs DuckDB.
"""

from __future__ import annotations

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


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def rounded(c: Column, places: int = DIST_ROUND) -> Column:
    return F.round(c, places)
