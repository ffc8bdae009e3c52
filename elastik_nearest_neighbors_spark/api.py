"""EsAknn-shaped public API facade.

The reference's whole query surface is three HTTP endpoints (SURVEY §1;
API-level citation — the /root/reference checkout is empty):

  POST /_aknn_create                 — fit a T×B hyperplane LSH model from
                                       a 2·T·B vector sample
  POST /_aknn_index                  — hash a batch of {_id, _aknn_vector}
                                       docs against a named model
  GET  /{index}/{id}/_aknn_search?k1&k2 — look up the STORED doc's hashes,
                                       term-match top-k1, exact euclidean
                                       re-rank top-k2

This module is the programmatic equivalent with the reference's parameter
names (`nb_tables`, `nb_bits_per_table`, `nb_dimensions`, `k1`, `k2`) and
document field names (`_id`, `_aknn_vector`), as thin wrappers over
LshModel / build_index / knn.collision_search. A user of the reference maps
their calls 1:1:

  aknn_create(docs, nb_tables=16, nb_bits_per_table=6)   → model
  aknn_index(docs, model)                                → indexed docs
  aknn_search(indexed, ids, k1=100, k2=10)               → (id, distance)

Like the ES plugin, `aknn_search` is id-based and reads the query doc's
hashes from the INDEX — no model needed at query time.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .constants import ANN_K1, ANN_K2, LSH_BITS, LSH_TABLES
from .operators.knn import collision_search
from .operators.lsh import LshModel

ID_FIELD = "_id"
VECTOR_FIELD = "_aknn_vector"


def aknn_create(
    docs: DataFrame,
    nb_tables: int = LSH_TABLES,
    nb_bits_per_table: int = LSH_BITS,
    nb_dimensions: int | None = None,
    id_field: str = ID_FIELD,
    vector_field: str = VECTOR_FIELD,
) -> LshModel:
    """`POST /_aknn_create`: fit the T×B midpoint-hyperplane model.

    The reference receives an explicit 2·T·B sample in the request body;
    here the sample is the first 2·T·B docs ordered by id — deterministic
    on any DataFrame, and only the KB-sized sample is ever collected.
    A model shape outside nb_tables >= 1 and 1 <= nb_bits_per_table <= 64
    is a ValueError: a table's hash packs its bits into one int64 term.
    """
    if nb_tables < 1 or not 1 <= nb_bits_per_table <= 64:
        raise ValueError(
            "nb_tables must be >= 1 and nb_bits_per_table in [1, 64], "
            f"got nb_tables={nb_tables}, nb_bits_per_table={nb_bits_per_table}"
        )
    need = 2 * nb_tables * nb_bits_per_table
    rows = docs.select(vector_field).orderBy(id_field).limit(need).collect()
    sample = np.array([r[0] for r in rows], dtype=np.float64)
    if nb_dimensions is not None and sample.shape[1] != nb_dimensions:
        raise ValueError(
            f"nb_dimensions={nb_dimensions} but sample vectors have "
            f"dimension {sample.shape[1]}"
        )
    return LshModel.from_sample(sample, nb_tables, nb_bits_per_table)


def aknn_index(
    docs: DataFrame,
    model: LshModel,
    id_field: str = ID_FIELD,
    vector_field: str = VECTOR_FIELD,
) -> DataFrame:
    """`POST /_aknn_index`: (_id, _aknn_vector) → (_id, _aknn_vector,
    hashes[T]). A narrow, shuffle-free Arrow-batched pass — persist the
    result (optionally via sources.index_store for the partition-pruned
    layout) to make it the searchable store. A parquet write of it splits
    at read time, however few tasks wrote it: session.configure caps the
    session's row groups at 4 MiB, so aknn_search's pass over the written
    index runs on every task the planner cuts. `io.table(widen=True)` is
    for external single-row-group inputs."""
    return model.with_hashes(docs, vector_field).select(
        id_field, vector_field, "hashes"
    )


def check_k(k1, k2) -> None:
    """k1 and k2 must be integers of at least 1 (ValueError otherwise): a
    bool or a float would be truncated, and a k below 1 returns an empty
    result that looks like a miss."""
    if type(k1) is not int or type(k2) is not int:
        raise ValueError(f"k1 and k2 must be integers, got k1={k1!r}, k2={k2!r}")
    if k1 < 1 or k2 < 1:
        raise ValueError(f"k1 and k2 must be >= 1, got k1={k1}, k2={k2}")


def aknn_search(
    indexed: DataFrame,
    ids: Iterable,
    k1: int = ANN_K1,
    k2: int = ANN_K2,
    id_field: str = ID_FIELD,
    vector_field: str = VECTOR_FIELD,
) -> DataFrame:
    """`GET /{index}/{id}/_aknn_search?k1&k2` as a batch: for each query id,
    read its STORED hashes from the index (no model at query time, exactly
    like the plugin), rank candidates by number of shared (table, hash)
    terms, take top-k1, exact-euclidean re-rank, return top-k2.

    Eager (knn.collision_search): 2 Spark jobs and no shuffle, and the
    driver merges at most P·Q·k1 rows for P partitions of `indexed` and Q
    query rows, bounded by spark.driver.maxResultSize. An id the index
    lacks gets no rows.

    Output: (query_id, neighbor_id, n_match, distance)."""
    check_k(k1, k2)
    queries = indexed.where(F.col(id_field).isin(list(ids)))
    return collision_search(indexed, queries, k1, k2, id_field, vector_field)


class AknnModelRegistry:
    """Named multi-model management — the reference stores each fitted LSH
    model as a named document in its `_aknn` index and `_aknn_index` /
    `_aknn_search` reference models BY NAME; several models coexist
    (SURVEY §1, API-level citation). Restated for a batch engine: a
    catalog directory of KB-sized model JSONs (at 100 TB scale: an
    object-store prefix — models are tiny, the catalog is metadata).

    JSON round-trips are exact (json emits shortest-repr doubles, parsed
    back to identical float64), so a model fetched by name hashes — and
    therefore searches — bit-identically to the in-memory object; the
    gated registry entry proves it against the shared ann_search_lsh
    oracle."""

    def __init__(self, root: str):
        import os

        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        import os
        import re

        if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
            raise ValueError(f"bad model name: {name!r}")
        return os.path.join(self.root, f"{name}.json")

    def save(self, name: str, model: LshModel) -> None:
        import os
        import tempfile

        # write-then-rename so a concurrent get() never sees a torn file
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(model.to_json())
        os.replace(tmp, self._path(name))

    def get(self, name: str) -> LshModel:
        try:
            with open(self._path(name)) as f:
                return LshModel.from_json(f.read())
        except FileNotFoundError:
            raise KeyError(f"no such model: {name!r}") from None

    def names(self) -> list[str]:
        import os

        return sorted(
            f[: -len(".json")]
            for f in os.listdir(self.root)
            if f.endswith(".json")
        )

    def delete(self, name: str) -> None:
        import os

        try:
            os.remove(self._path(name))
        except FileNotFoundError:
            raise KeyError(f"no such model: {name!r}") from None

    def create(
        self,
        name: str,
        docs: DataFrame,
        nb_tables: int = LSH_TABLES,
        nb_bits_per_table: int = LSH_BITS,
        nb_dimensions: int | None = None,
        id_field: str = ID_FIELD,
        vector_field: str = VECTOR_FIELD,
    ) -> LshModel:
        """`POST /_aknn_create` with a model NAME, like the plugin: fit and
        store under the name, return the fitted model."""
        model = aknn_create(
            docs, nb_tables, nb_bits_per_table, nb_dimensions, id_field, vector_field
        )
        self.save(name, model)
        return model


def aknn_model_registry(spark, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #128): named multi-model round-trip. Two
    models coexist in one catalog — the canonical 16×6 model saved under
    "default" and an independently fitted 4×2 model under "small" — and
    the search runs against the "default" model FETCHED BY NAME (a full
    JSON round-trip), so the hash/search path off the catalog must equal
    the in-memory path bit-for-bit: gated by the shared ann_search_lsh
    oracle, like the facade entry."""
    from . import io
    from .constants import N_QUERIES
    from .operators.knn import _model_for
    from .session import configure

    configure(spark)
    emb = io.table(spark, sf_dir, "embeddings", widen=True)
    docs = emb.select(
        F.col("vec_id").alias(ID_FIELD), F.col("embedding").alias(VECTOR_FIELD)
    )
    reg = AknnModelRegistry(io.scratch_dir("aknn_models", sf_dir))
    reg.save("default", _model_for(emb, sf_dir))
    if "small" not in reg.names():
        reg.create("small", docs, nb_tables=4, nb_bits_per_table=2)
    model = reg.get("default")
    indexed = aknn_index(docs, model)
    return aknn_search(indexed, range(N_QUERIES))


def aknn_search_api(spark, sf_dir: str) -> DataFrame:
    """Registry entry proving facade parity: drive the three endpoints over
    the embeddings table with the reference's field names and assert (via
    the shared ann_search_lsh oracle) that the result equals the in-memory
    search path bit-for-bit."""
    from . import io
    from .constants import N_QUERIES
    from .operators.knn import _model_for
    from .session import configure

    configure(spark)
    emb = io.table(spark, sf_dir, "embeddings", widen=True)
    docs = emb.select(
        F.col("vec_id").alias(ID_FIELD), F.col("embedding").alias(VECTOR_FIELD)
    )
    # same deterministic model as the rest of the LSH family → same oracle
    model = _model_for(emb, sf_dir)
    indexed = aknn_index(docs, model)
    return aknn_search(indexed, range(N_QUERIES))
