"""EsAknn-shaped HTTP serving surface (SURVEY §1; API-level citation — the
/root/reference checkout is empty).

The reference IS an HTTP service: an Elasticsearch plugin exposing three
endpoints. `api.py` provides the programmatic facade; this module puts the
actual wire protocol in front of it, with the reference's endpoint paths,
parameter names and document field names, using only the Python stdlib
(`http.server` — no new dependencies):

  POST /_aknn_create
      {"_id": <model name>, "nb_tables": T, "nb_bits_per_table": B,
       "nb_dimensions": D?, "docs": [{"_id": i,
       "_source": {"_aknn_vector": [...]}}, ...]}
      → fit the T×B midpoint-hyperplane model from the posted sample
      (the reference posts an explicit 2·T·B sample in the body) and
      store it BY NAME in the AknnModelRegistry catalog.

  POST /_aknn_index
      {"model": <model name>, "_index": <index name>, "docs": [...]}
      → hash the batch against the named model (Arrow-batched, narrow)
      and APPEND (_id, _aknn_vector, hashes) to the index's parquet
      store — hashes are stored WITH the docs, so search never needs
      the model, exactly like the plugin.

  GET /{index}/{id}/_aknn_search?k1=<int>&k2=<int>
      → read the STORED doc's hashes, term-match top-k1, exact
      euclidean re-rank, top-k2; response in the ES search shape:
      {"timed_out": false, "hits": {"total": k, "hits":
        [{"_id": ..., "_score": <distance>, "n_match": ...}, ...]}}

  GET /_aknn_models → {"models": [...]} (catalog listing).

  DELETE /{index}/{id} (r12) → remove one stored document (200
      "deleted" / 404 "not_found" — ES delete-by-id parity); bulk form
      POST /_aknn_delete {"_index": ..., "ids": [...]} → {"deleted": n}.
      Replace-on-index and delete are ONE mutation path (_replace_store;
      a delete is a replace with no new rows): only the dropped ids'
      docs/ and terms/ directories are patched, the terms side through
      index_store.patch_lsh_terms like knn.index_upsert/index_delete.
      Deleting the last doc leaves an empty index: searches answer 200
      with zero hits.

  DELETE /{index} (r12) → drop the whole index (ES delete-index), and
      the recovery path for a torn index (see below).

  POST /_aknn_index with "refresh": false (r12) + POST /_aknn_refresh
      {"_index": ...} → ES near-real-time semantics: a refresh=false
      batch is HASHED and staged (one narrow append, no store jobs) but
      not searchable; /_aknn_refresh merges everything staged into the
      live store in ONE replace-on-index pass (last staged occurrence of
      an id wins, exactly ES op order). This is the wire BULK-LOAD path:
      per-request cost drops from ~8 store jobs to one append, and the
      merge pays the batch store builder's clustered writes once
      (measured on the 200k-vector step-up — BASELINE.md r12).

Every mutation runs under a per-index dirty marker: parquet has no
transaction log, so a crash mid-commit could leave mutually-inconsistent
docs/ and terms/ — the marker turns that into a DETECTED state (search
and further mutations answer 503 TornIndexError; DELETE /{index} +
re-index recovers) instead of silent recall loss. An index that was never
written answers 404 index_not_found, like ES.

Deployment shape: the server is a DRIVER-side facade over the
parquet-backed index. Every index is stored in ONE layout, the
partition-pruned store — the reference's keyword-field term index
re-expressed as parquet directories: `/_aknn_index` writes the hashed docs
under `docs/` partitioned by id_bucket (index_store.doc_bucket; doc-by-id
lookup prunes to ONE directory) and the exploded terms under `terms/`
partitioned by (tbl, bucket) (index_store.lsh_terms) — sources.index_store
owns the layout and its bucket count; this module never names it.
A search ranks on the driver, like the reference ranks inside its
Elasticsearch node, and makes two Spark reads, neither of which shuffles:
  1. the terms read: the ≤ T probed (tbl, bucket) term directories per
     query, collected as Arrow. The term-match count and the top-k1 cut
     by (-n_match, neighbor_id) run in numpy on the driver.
  2. the re-rank gather: the ≤ Q·k1 candidates, a driver-local Arrow
     relation (_local_df), broadcast against the docs snapshot, which is
     read un-pruned (the same shape the gated batch ann_search_lsh_store
     pays). The distance is functions.vector.euclidean rounded to
     DIST_ROUND, as in knn.rank_term_matches.
     The ≤ Q·k1 scored rows are sorted on the driver and cut to k2.
A cached search runs 3 Spark jobs (the terms read, the candidates'
broadcast, the docs scan; test-pinned, also for a 4-id msearch);
a doc-cache miss adds one pruned stored-doc fetch. On a 10k-vector store
(64 dims, T=16, k1=100, a 4-core VM) the median GET search takes about
310 ms (perfbench serve_search).
tests/test_server.py asserts the PartitionFilters in the served plans.
Every other frame built from request rows (a delete's ids, a posted batch)
is a _local_df relation too.

Registry entries `aknn_http_search` and `aknn_http_search_store` drive
all three endpoints over a real localhost socket (one shared server) and
gate the round-trip against the shared ann_search_lsh oracle.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import constants
from .api import ID_FIELD, VECTOR_FIELD, AknnModelRegistry, aknn_index
from .constants import ANN_K1, ANN_K2, DIST_ROUND, LSH_BITS, LSH_TABLES

# stored-doc cache entries across all indexes (FIFO): a scan over many
# distinct ids can't grow it unboundedly
DOC_CACHE_ENTRIES = 4096


def _local_df(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """`rows` (tuples in `ddl`'s column order) as a DataFrame backed by a
    driver-local Arrow table. Spark plans it as a LocalRelation, so a join
    broadcasts it from a JVM job over rows already held in the JVM;
    createDataFrame over a Python list is instead a Python-RDD scan, whose
    every broadcast starts a job of Python-worker tasks just to unpickle
    the rows. Each column is built
    with its exact Arrow type, so a value the type cannot hold (a JSON
    true or a string as a bigint, an int beyond int64) raises here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)


class TornIndexError(RuntimeError):
    """A mutation crashed mid-commit and the on-disk index may be torn
    (multi-file parquet has no transaction log). Raised instead of serving
    possibly-inconsistent results; mapped to HTTP 503. Recovery: drop the
    index (DELETE /{index}) and re-index."""


class IndexNotFoundError(LookupError):
    """The index has no stored docs (never indexed, or dropped); mapped to
    HTTP 404 index_not_found, ES's answer, naming the index — never the
    server's storage path."""

    def __init__(self, index: str):
        super().__init__(f"no such index [{index}]")
        self.index = index


class AknnHttpServer:
    """Three-endpoint EsAknn server over a SparkSession.

    Binds 127.0.0.1 on an ephemeral port (`.port` after construction);
    `start()` serves on a daemon thread, `stop()` shuts down cleanly.
    Spark calls are serialized under one lock — the driver facade is the
    concurrency bottleneck by design (scale-out serving replicates the
    driver behind a load balancer, each replica reading the same store).
    """

    def __init__(self, spark: SparkSession, root: str, store_backed: bool = True):
        # the partition-pruned store is the only layout; the flag is still
        # accepted because existing callers pass store_backed=True
        if not store_backed:
            raise ValueError("the partition-pruned store is the only index layout")
        self.spark = spark
        self.root = root
        self.registry = AknnModelRegistry(os.path.join(root, "models"))
        # per-index docs/terms DataFrames, invalidated on append: a
        # DataFrame's FileIndex snapshots the directory listing, so reusing
        # one across searches skips the per-request re-list + footer read
        # of the partitioned stores (measured ~2× per-search latency).
        # Searches prune the SNAPSHOT via PartitionFilters — for a
        # long-lived server this is the right 100 TB trade: one listing
        # amortized over every request, versus load_lsh_partitions'
        # per-call explicit-directory read, which is built for one-shot
        # batch jobs. A mutation makes the snapshot stale, so _forget drops
        # the entries.
        self._docs_cache: dict[str, DataFrame] = {}
        self._terms_cache: dict[str, DataFrame] = {}
        # next batch_seq per index for refresh=false staging; a cache miss
        # re-derives it from the staged parquet (max+1), so staged batches
        # survive a server restart with their order intact
        self._staging_seq: dict[str, int] = {}
        # pinned _id dtype per index (r12): the type is IMMUTABLE once the
        # first batch lands (that's the pinning rule), so unlike the
        # snapshot caches it survives mutations — without it every point
        # update re-listed the whole docs store just to re-learn a fact
        # that cannot change. Cleared only by drop_index.
        self._id_type_cache: dict[str, str] = {}
        # staged-only twin (an index that exists only as refresh=false
        # staging pins from its first STAGED batch); cleared on refresh
        # (the live store takes over) and on drop_index
        self._staged_id_type: dict[str, str] = {}
        # doc-by-id lookup cache (r12): a search is two Spark reads — fetch
        # the stored query doc, then rank its candidates; a repeated GET of
        # the same doc (the ES hot-query reality) need not re-run the
        # fetch. (index, id) -> stored row, or None for an id the index
        # lacks. Invalidated per-index on every mutation, exactly like the
        # snapshot caches; filled only by _fetch_docs, which applies the
        # DOC_CACHE_ENTRIES cap.
        self._doc_cache: dict[tuple, object] = {}
        # indexes with a mutation in flight (all ops serialize under the
        # lock): their own dirty marker must not trip _check_clean when a
        # snapshot cache misses mid-mutation
        self._mutating: set[str] = set()
        self._lock = threading.RLock()
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(self))
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    def start(self) -> "AknnHttpServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

    # ---- endpoint logic (HTTP-independent; the handler is a thin shim) ----

    def _index_path(self, index: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]+", index):
            raise ValueError(f"bad index name: {index!r}")
        return os.path.join(self.root, "indexes", index)

    def _docs_df(self, docs: list[dict]) -> DataFrame:
        """A posted batch as (_id, _aknn_vector) rows. The ids are bigint
        iff every one is an int; otherwise they are strings, and a number
        among them is stored as its str (a JSON true is refused). Vector
        components must be finite numbers: msearch sorts distances on the
        driver, which needs them free of NaN."""
        rows = [(d[ID_FIELD], [float(x) for x in d["_source"][VECTOR_FIELD]]) for d in docs]
        if not all(math.isfinite(x) for _i, v in rows for x in v):
            raise ValueError(f"{VECTOR_FIELD} components must be finite numbers")
        id_type = "bigint" if all(isinstance(i, int) for i, _v in rows) else "string"
        if id_type == "string":
            rows = [(str(i) if type(i) in (int, float) else i, v) for i, v in rows]
        return _local_df(self.spark, rows, f"{ID_FIELD} {id_type}, {VECTOR_FIELD} array<double>")

    def _docs_path(self, index: str) -> str:
        """Where the (_id, _aknn_vector, hashes, id_bucket) doc rows of
        `index` live: the store's docs/ side."""
        return os.path.join(self._index_path(index), "docs")

    def _terms_path(self, index: str) -> str:
        return os.path.join(self._index_path(index), "terms")

    def _stored_id_type(self, index: str) -> str | None:
        """The _id dtype already persisted for this index, or None if the
        index has no data yet. Reads through the docs snapshot cache — a
        pre-append snapshot has the same schema, and a fresh
        spark.read.parquet here would re-list the partitioned store on
        every append batch (the exact cost the caches exist to avoid).
        LIVE store only — staged (unrefreshed) batches don't count; use
        _pinned_id_type where they must."""
        t = self._id_type_cache.get(index)
        if t is not None:
            return t
        try:
            t = dict(self._cached_docs(index).dtypes)[ID_FIELD]
        except IndexNotFoundError:
            return None
        self._id_type_cache[index] = t
        return t

    def _pinned_id_type(self, index: str) -> str | None:
        """The _id dtype the index is committed to: the live store's, or —
        for an index that so far exists only as refresh=false staging —
        the staging schema's (the FIRST staged batch pins, like the first
        indexed batch does, or the merge would hit a schema split)."""
        from . import io

        t = self._stored_id_type(index)
        if t is not None:
            return t
        t = self._staged_id_type.get(index)
        if t is not None:
            return t
        sp = self._staging_path(index)
        if io.fs_isdir(self.spark, sp):
            t = dict(self.spark.read.parquet(sp).dtypes)[ID_FIELD]
            self._staged_id_type[index] = t
        return t

    def _pin_id_type(self, index: str, docs: DataFrame) -> DataFrame:
        """ADVICE r10: _docs_df infers the _id type PER BATCH (bigint iff
        every id is an int), so a later string-id batch would append string
        _id files next to bigint ones and break every subsequent search on
        schema merge. The id type is pinned by the index's FIRST batch:
        later int-id batches against a string-pinned index are cast
        (lossless), a string-id batch against a bigint-pinned index is
        rejected with a 400 (the caller's ids don't round-trip)."""
        pinned = self._pinned_id_type(index)
        batch = dict(docs.dtypes)[ID_FIELD]
        if pinned is None or pinned == batch:
            return docs
        if pinned == "string":
            return docs.withColumn(ID_FIELD, F.col(ID_FIELD).cast("string"))
        raise ValueError(
            f"index {index!r} pins {ID_FIELD} type {pinned}; "
            f"batch has {batch} ids — re-index under a new index name"
        )

    def create(self, body: dict) -> dict:
        name = body["_id"]
        nb_tables = int(body.get("nb_tables", LSH_TABLES))
        nb_bits = int(body.get("nb_bits_per_table", LSH_BITS))
        # a table's hash packs its bits into one int64 term
        if nb_tables < 1 or not 1 <= nb_bits <= 64:
            raise ValueError(
                "nb_tables must be >= 1 and nb_bits_per_table in [1, 64], "
                f"got nb_tables={nb_tables}, nb_bits_per_table={nb_bits}"
            )
        with self._lock:
            self.registry.create(
                name,
                self._docs_df(body["docs"]),
                nb_tables=nb_tables,
                nb_bits_per_table=nb_bits,
                nb_dimensions=body.get("nb_dimensions"),
            )
        return {
            "acknowledged": True,
            "_id": name,
            "nb_tables": nb_tables,
            "nb_bits_per_table": nb_bits,
        }

    def index(self, body: dict) -> dict:
        from .sources.index_store import doc_bucket

        with self._lock:
            model = self.registry.get(body["model"])
            name = body["_index"]
            # ES semantics (the reference host's): indexing an existing _id
            # REPLACES the stored document, it does not append a duplicate.
            # Within one batch, the last occurrence of an id wins (ES
            # applies index ops in order); against the store, replaced ids'
            # rows are dropped in the SAME write that lands the new ones.
            posted = list({d[ID_FIELD]: d for d in body["docs"]}.values())
            docs = self._pin_id_type(name, self._docs_df(posted))
            # hash + materialize BEFORE touching the store: a replace must
            # not destroy the stored doc when the incoming one is invalid
            # (wrong dimension etc. — the hash matmul fails HERE, with the
            # store untouched and the dirty marker unset)
            hashed = aknn_index(docs, model).withColumn(
                "id_bucket", doc_bucket(F.col(ID_FIELD))
            )
            if body.get("refresh", True) is False:
                # bulk-load path: hash + ONE narrow staging append, no
                # store jobs; /_aknn_refresh merges. No checkpoint needed —
                # the append itself materializes (and validates) the batch,
                # and a failed append commits nothing (parquet job commit)
                self._stage(name, hashed)
                return {
                    "acknowledged": True,
                    "_index": name,
                    "staged": len(body["docs"]),
                }
            hashed = hashed.localCheckpoint(eager=True)
            ids = [d[ID_FIELD] for d in posted]
            if dict(docs.dtypes)[ID_FIELD] == "string":
                # _pin_id_type may have cast an int batch onto a string-
                # pinned index; mirror that cast on the raw posted ids
                ids = [str(i) for i in ids]
            self._mutate(name, self._replace_store, name, ids, hashed)
        return {"acknowledged": True, "_index": body["_index"], "indexed": len(body["docs"])}

    # ---- torn-write detection (ADVICE r11): parquet has no transaction
    # log, so a crash mid-mutation can leave a half-overwritten side or
    # mutually-inconsistent docs/ and terms/. Every mutation runs under a
    # marker; a surviving marker turns silent recall loss into a refused,
    # diagnosable state. ----

    def _dirty_marker(self, index: str) -> str:
        # '#' is outside the legal index-name alphabet (_index_path), so
        # the marker can never collide with another index's data directory
        return os.path.join(self.root, "indexes", f"{index}#dirty")

    def _check_clean(self, index: str) -> None:
        from . import io

        if index in self._mutating:
            return
        if io.fs_exists(self.spark, self._dirty_marker(index)):
            raise TornIndexError(
                f"index {index!r} has a torn write (a mutation crashed "
                "mid-commit); refusing to serve possibly-inconsistent "
                f"results — drop it (DELETE /{index}) and re-index"
            )

    def _mutate(self, index: str, fn, *args):
        """Run a store mutation under the torn-write marker: set it, run,
        clear it only on success. The marker sits OUTSIDE the data dir (a
        bulk merge swaps whole docs/ and terms/ sides — a marker inside
        them would vanish with the files it guards). Snapshot caches are
        dropped in all cases: a failure after files were rewritten must
        not leave them pointing at deleted parquet."""
        from . import io

        self._check_clean(index)
        marker = self._dirty_marker(index)
        io.fs_touch(self.spark, marker)
        self._mutating.add(index)
        try:
            out = fn(*args)
        finally:
            self._mutating.discard(index)
            self._forget(index)
        io.fs_delete(self.spark, marker)
        return out

    def _forget(self, index: str) -> None:
        """Drop what a mutation of `index` made stale: its snapshot caches
        and its doc-cache entries (keys match `index` exactly)."""
        self._docs_cache.pop(index, None)
        self._terms_cache.pop(index, None)
        for k in [k for k in self._doc_cache if k[0] == index]:
            del self._doc_cache[k]

    def _ids_df(self, ids: list, id_type: str) -> DataFrame:
        return _local_df(self.spark, [(i,) for i in ids], f"{ID_FIELD} {id_type}")

    def _pruned_dirs_df(self, base: str, part_cols: list[str], keys) -> DataFrame | None:
        """Rows of exactly the named partition directories, read via
        EXPLICIT paths + basePath (r12): a mutation previously re-read the
        store through a fresh full snapshot (its FileIndex lists ALL
        T·n_buckets + n_buckets directories) because the previous mutation
        dropped the caches — the listing, not the data, dominated the
        point-update latency. Directories that don't exist are skipped
        (manifest-level probe); None = none of them do. The snapshot
        caches stay what they are good at: amortizing ONE listing over
        many searches."""
        from . import io

        dirs = []
        for k in keys:
            k = k if isinstance(k, (tuple, list)) else (k,)
            d = io.fs_join(base, *[f"{c}={int(v)}" for c, v in zip(part_cols, k)])
            if io.fs_isdir(self.spark, d):
                dirs.append(d)
        if not dirs:
            return None
        return self.spark.read.option("basePath", base).parquet(*dirs)

    def _replace_store(self, index: str, ids: list, hashed: DataFrame | None = None) -> int:
        """The one store mutation: drop the stored docs of `ids` and add
        `hashed`'s rows (replace-on-index and refresh), or add nothing (a
        delete). Each side (docs/, terms/) transitions old→new in ONE
        pruned dynamic overwrite carrying survivors ∪ new rows, so a
        replaced doc is never absent. Bounds: ≤ |ids| id_bucket docs
        dirs, ≤ |ids|·T (tbl, bucket) term dirs (old ∪ new hashes), and a
        delete rewrites only the dirs that held a doomed id; everything
        else is untouched. Returns the number of stored docs dropped."""
        from .sources.index_store import (
            doc_bucket,
            lsh_terms,
            patch_lsh_terms,
            pruned_dynamic_overwrite,
            term_part,
        )

        id_type = self._stored_id_type(index)
        if id_type is None:
            self._append_store(index, hashed)
            return 0
        ids_df = self._ids_df(ids, id_type)
        # ONE collect gives the pruning all it needs driver-side: the ids'
        # docs buckets and the NEW hashes' term directories (≤ |ids|·T
        # ints — no vectors). A delete's collect is a projection of a
        # local relation, which Spark answers without a job.
        if hashed is None:
            new_buckets, new_parts = set(), set()
            buckets = {
                int(r.id_bucket)
                for r in ids_df.select(doc_bucket(F.col(ID_FIELD)).alias("id_bucket")).collect()
            }
        else:
            brows = hashed.select("id_bucket", "hashes").collect()
            new_buckets = buckets = {int(r.id_bucket) for r in brows}
            new_parts = {term_part(t, h) for r in brows for t, h in enumerate(r.hashes)}
        # r12: the ids can only live in their own id_bucket dirs — read
        # exactly those via explicit paths (no store-wide listing; see
        # _pruned_dirs_df)
        pruned = self._pruned_dirs_df(self._docs_path(index), ["id_bucket"], sorted(buckets))
        # the overlap probe doubles as doomed-terms discovery: the stored
        # hashes of the dropped ids name the term dirs to patch
        doomed_rows = (
            []
            if pruned is None
            else pruned.join(F.broadcast(ids_df), ID_FIELD, "left_semi")
            .select("hashes", "id_bucket")
            .collect()
        )
        if not doomed_rows:
            if hashed is not None:
                self._append_store(index, hashed)
            return 0
        doomed_parts = {term_part(t, h) for r in doomed_rows for t, h in enumerate(r.hashes)}
        doomed_buckets = {int(r.id_bucket) for r in doomed_rows}
        # terms side: explicit-dir read of the touched dirs only. A dir
        # only a dropped id's old hash names can empty, so the emptied-dir
        # sweep stays ON unless the new terms cover it.
        touched = sorted(doomed_parts | new_parts)
        terms = self._pruned_dirs_df(self._terms_path(index), ["tbl", "bucket"], touched)
        patch_lsh_terms(
            self.spark,
            self._terms_path(index),
            touched,
            terms,
            ids_df,
            None if hashed is None else lsh_terms(hashed, ID_FIELD),
            assume_live=doomed_parts <= new_parts,
        )
        # docs side: new rows land in exactly their probed buckets
        # (id_bucket is a function of _id), so a replace can empty no
        # touched dir (assume_live skips the emptied-dir job); a delete
        # rewrites only the buckets that held a doomed id
        docs_touched = sorted(doomed_buckets | new_buckets)
        live_docs = pruned.where(F.col("id_bucket").isin(docs_touched)).join(
            F.broadcast(ids_df), ID_FIELD, "left_anti"
        )
        if hashed is not None:
            live_docs = live_docs.unionByName(
                hashed.withColumn(
                    "id_bucket", F.col("id_bucket").cast(dict(pruned.dtypes)["id_bucket"])
                )
            )
        pruned_dynamic_overwrite(
            self.spark,
            self._docs_path(index),
            live_docs,
            ["id_bucket"],
            docs_touched,
            assume_live=doomed_buckets <= new_buckets,
        )
        if hashed is None:
            # only a delete can empty a side
            self._keep_schema(self._docs_path(index), ["id_bucket"], pruned.schema)
            if terms is not None:
                self._keep_schema(self._terms_path(index), ["tbl", "bucket"], terms.schema)
        return len(doomed_rows)

    def _replace_store_bulk(self, index: str, latest: DataFrame) -> None:
        """Whole-store merge for bulk refreshes (r13, ADVICE
        r12): when the staged batch is corpus-sized, per-id pruning is
        pointless (it touches ~every directory anyway) and collecting the
        staged ids/hashes driver-side is O(corpus) driver memory. Merge
        fully distributed instead: survivors = live rows anti-joined
        against the staged-id DataFrame, unioned with the staged rows,
        clustered sibling-write + swap per side (docs/ by id_bucket,
        terms/ by (tbl, bucket)) under the caller's torn-write marker.
        Content is row-identical to the pruned patch path — the gated
        drive asserts it by forcing the threshold down — and the swapped
        store lands compacted (one file per directory) for free."""
        from .sources.index_store import clustered_overwrite_swap, lsh_terms

        new_terms = lsh_terms(latest, ID_FIELD)
        if self._stored_id_type(index) is None:
            live_docs, live_terms = latest, new_terms
        else:
            ids_df = latest.select(ID_FIELD)
            existing = self._cached_docs(index)
            live_docs = (
                existing.join(ids_df, ID_FIELD, "left_anti")
                .unionByName(
                    latest.withColumn(
                        "id_bucket",
                        F.col("id_bucket").cast(dict(existing.dtypes)["id_bucket"]),
                    )
                )
            )
            live_terms = (
                self._cached_terms(index)
                .select(
                    "vec_id",
                    F.col("tbl").cast("int").alias("tbl"),
                    "hash",
                    F.col("bucket").cast("int").alias("bucket"),
                )
                .join(
                    ids_df.select(F.col(ID_FIELD).alias("vec_id")),
                    "vec_id",
                    "left_anti",
                )
                .unionByName(new_terms)
            )
        clustered_overwrite_swap(
            self.spark, self._docs_path(index), live_docs, ["id_bucket"]
        )
        clustered_overwrite_swap(
            self.spark, self._terms_path(index), live_terms, ["tbl", "bucket"]
        )

    # ---- refresh=false staging + /_aknn_refresh (r12, ES NRT parity):
    # staged batches are hashed but NOT searchable/deletable until refresh
    # — exactly ES's near-real-time contract. Staging lives OUTSIDE the
    # data dir ('#' is outside the legal index-name alphabet, like the
    # dirty marker) so store reads and bulk swaps never see it. ----

    def _staging_path(self, index: str) -> str:
        return os.path.join(self.root, "indexes", f"{index}#staging")

    def _stage(self, index: str, hashed: DataFrame) -> None:
        from . import io

        self._check_clean(index)
        path = self._staging_path(index)
        seq = self._staging_seq.get(index)
        if seq is None:
            seq = 0
            if io.fs_isdir(self.spark, path):
                row = self.spark.read.parquet(path).agg(F.max("batch_seq")).first()
                seq = int(row[0] or 0) + 1
        hashed.withColumn("batch_seq", F.lit(seq).cast("long")).write.mode(
            "append"
        ).parquet(path)
        self._staging_seq[index] = seq + 1
        self._staged_id_type.setdefault(index, dict(hashed.dtypes)[ID_FIELD])

    def refresh(self, index: str) -> dict:
        """POST /_aknn_refresh — merge everything staged into the live
        store in one replace-on-index pass. The last staged occurrence of
        an id wins (batch_seq rank — ES applies index ops in order); the
        merge runs under the dirty marker like any mutation, and staging
        is deleted only after both sides commit, so a crash either leaves
        the staged batches intact (re-refresh) or a detected-torn index
        (drop + re-index — drop_index clears staging too)."""
        from . import io
        from pyspark.sql import Window

        with self._lock:
            path = self._staging_path(index)
            if not io.fs_isdir(self.spark, path):
                return {"_index": index, "refreshed": True, "merged": 0}
            staged = self.spark.read.parquet(path)
            w = Window.partitionBy(ID_FIELD).orderBy(F.desc("batch_seq"))
            latest = (
                staged.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .drop("rn", "batch_seq")
                .localCheckpoint(eager=True)
            )
            n_staged = latest.count()
            if n_staged > constants.REFRESH_BULK_ROWS:
                # corpus-sized merge (r13, ADVICE r12): never collect the
                # staged ids — distributed anti-join + clustered swap
                replace, args = self._replace_store_bulk, (index, latest)
            else:
                ids = [r[0] for r in latest.select(ID_FIELD).collect()]
                replace, args = self._replace_store, (index, ids, latest)

            def _merge() -> None:
                replace(*args)
                io.fs_delete(self.spark, path)

            self._mutate(index, _merge)
            self._staging_seq.pop(index, None)
            self._staged_id_type.pop(index, None)
            return {"_index": index, "refreshed": True, "merged": n_staged}

    def compact(self, index: str) -> dict:
        """POST /_aknn_compact — rewrite the index's accumulated append
        files into the canonical one-file-per-directory clustered layout
        (r13, the r12 verdict's wire-compaction item: every append-mode
        mutation leaves one file per touched directory, and 40-50 files
        per directory was the measured cost floor of the upsert/delete
        serving drives). Runs compact_in_place on docs/ (by id_bucket)
        and terms/ (by (tbl, bucket)) under the torn-write marker; served
        rows are unchanged — same content, same partition values, fewer
        files — so the gated results are identical by construction."""
        from .sources.index_store import compact_in_place

        with self._lock:
            # _cached_docs raises IndexNotFoundError for an unknown index
            sides = [
                (self._docs_path(index), ["id_bucket"], self._cached_docs(index).schema),
                (self._terms_path(index), ["tbl", "bucket"], self._cached_terms(index).schema),
            ]

            def _run() -> None:
                for path, part_cols, schema in sides:
                    compact_in_place(self.spark, path, part_cols)
                    # an index emptied by deletes compacts to no files
                    self._keep_schema(path, part_cols, schema)

            self._mutate(index, _run)
            return {"_index": index, "acknowledged": True, "compacted": True}

    def delete_ids(self, index: str, raw_ids: list) -> int:
        """Bulk document delete — ES DELETE-parity (r11 verdict item 1):
        replace-on-index with no new rows (_replace_store), shared by the
        single-doc DELETE /{index}/{id} endpoint and the bulk POST
        /_aknn_delete. Ids go through _coerce_ids (an id that cannot exist
        under the index's pinned _id type counts as not-found, like any
        unknown doc). Returns the number of stored docs actually removed
        (0 → HTTP 404 at the wire). `raw_ids` must be a list (ValueError →
        400): a JSON string would otherwise be deleted char by char."""
        if not isinstance(raw_ids, list):
            raise ValueError(f"ids must be a JSON list, got {type(raw_ids).__name__}")
        with self._lock:
            pinned = self._stored_id_type(index)
            if pinned is None:
                return 0
            ids = self._coerce_ids(pinned, raw_ids)
            if not ids:
                return 0
            return self._mutate(index, self._replace_store, index, ids)

    def _keep_schema(self, path: str, part_cols: list[str], schema) -> None:
        """Spark infers a store side's schema from its parquet files. A
        side whose last row was deleted has no partition directory left,
        so every later read would fail UNABLE_TO_INFER_SCHEMA, and after a
        restart the pinned _id type would be lost. Keep a zero-row file
        under the all-zero partition directory instead: the emptied index
        answers searches with 200 and zero hits, and keeps its _id type.
        (The purge removes emptied leaf directories only, so a terms/ side
        can keep empty tbl= parents: look for a full-depth leaf.)"""
        from . import io

        leaves = [path]
        for c in part_cols:
            leaves = [
                io.fs_join(d, e)
                for d in leaves
                for e in io.fs_list(self.spark, d)
                if e.startswith(f"{c}=")
            ]
        if leaves:
            return
        empty = self.spark.createDataFrame([], schema).drop(*part_cols)
        empty.write.mode("overwrite").parquet(
            io.fs_join(path, *[f"{c}=0" for c in part_cols])
        )

    def drop_index(self, index: str) -> bool:
        """DELETE /{index} — ES's delete-index, and the documented recovery
        path for a torn index: data dir and dirty marker both go (so this
        must NOT itself refuse on dirty)."""
        from . import io

        with self._lock:
            path = self._index_path(index)
            existed = io.fs_isdir(self.spark, path)
            io.fs_delete(self.spark, path)
            io.fs_delete(self.spark, self._dirty_marker(index))
            io.fs_delete(self.spark, self._staging_path(index))
            self._forget(index)
            self._staging_seq.pop(index, None)
            self._staged_id_type.pop(index, None)
            self._id_type_cache.pop(index, None)
        return existed

    def _append_store(self, index: str, hashed: DataFrame) -> None:
        """Append one all-new /_aknn_index batch into the partition-pruned
        layout: docs/ partitioned by id_bucket (doc-by-id lookup = one
        directory), terms/ partitioned by (tbl, bucket) —
        sources.index_store's exact LSH layout (id column stored under its
        vec_id name so load_lsh_partitions reads it back verbatim).
        `hashed` arrives with id_bucket already computed (index() adds it
        before the checkpoint). Per-batch appends accumulate one file per
        touched directory per batch — the compaction story is
        streaming_index_compact's, unchanged."""
        from .sources.index_store import clustered, lsh_terms

        (
            clustered(hashed, "id_bucket")
            .write.mode("append")
            .partitionBy("id_bucket")
            .parquet(self._docs_path(index))
        )
        (
            clustered(lsh_terms(hashed, ID_FIELD), "tbl", "bucket")
            .write.mode("append")
            .partitionBy("tbl", "bucket")
            .parquet(self._terms_path(index))
        )

    def _cached_docs(self, index: str) -> DataFrame:
        from . import io

        df = self._docs_cache.get(index)
        if df is None:
            # cache miss is the one per-mutation re-entry point (every
            # mutation pops the caches), so the torn-write check here
            # covers all serving paths at zero cost to cached requests
            self._check_clean(index)
            path = self._docs_path(index)
            if not io.fs_isdir(self.spark, path):
                raise IndexNotFoundError(index)
            df = self.spark.read.parquet(path)
            self._docs_cache[index] = df
        return df

    def _cached_terms(self, index: str) -> DataFrame:
        df = self._terms_cache.get(index)
        if df is None:
            self._check_clean(index)
            df = self.spark.read.parquet(self._terms_path(index))
            self._terms_cache[index] = df
        return df

    def _coerce_ids(self, id_type: str, doc_ids: list) -> list:
        """The one wire-id coercion rule: `doc_ids` in the index's pinned
        _id type, in request order. A string-pinned index takes str(id)
        (an int id posted to it was stored as its string, see
        _pin_id_type). A bigint-pinned index takes only ints and integer
        strings in range; any other id (non-numeric, a JSON 1.5 or true)
        cannot exist there and is dropped, so it reads as not-found
        instead of being truncated onto another doc."""
        if id_type == "string":
            return [str(d) for d in doc_ids]
        out = []
        for d in doc_ids:
            if isinstance(d, str) and re.fullmatch(r"-?[0-9]+", d):
                d = int(d)
            if type(d) is int and -(2**63) <= d < 2**63:
                out.append(d)
        return out

    def _fetch_df(self, index: str, ids: list) -> DataFrame:
        """The stored docs of the (coerced, non-empty) `ids`, read from
        their id_bucket directories only: per id (id_bucket ==
        doc_bucket(lit)) & (_id == lit), OR-ed. xxhash64 of a
        literal constant-folds, so the scan's PartitionFilters see only
        literal bucket equalities (asserted by tests/test_server.py). The
        literal is cast to the pinned id type — xxhash64 is type-sensitive,
        so an int probing a bigint-written bucket column must hash as
        bigint."""
        from .sources.index_store import doc_bucket

        docs = self._cached_docs(index)
        id_type = dict(docs.dtypes)[ID_FIELD]
        pred = None
        for d in ids:
            qlit = F.lit(d).cast(id_type)
            c = (F.col("id_bucket") == doc_bucket(qlit)) & (F.col(ID_FIELD) == qlit)
            pred = c if pred is None else pred | c
        return docs.where(pred)

    def _fetch_docs(self, index: str, ids: list) -> dict:
        """id -> stored row, or None where the index lacks the id, for the
        coerced `ids`: cache hits first, then ONE pruned read (_fetch_df)
        for every miss. The only writer of _doc_cache, so the FIFO cap is
        applied here."""
        out = {d: self._doc_cache[(index, d)] for d in ids if (index, d) in self._doc_cache}
        missing = [d for d in dict.fromkeys(ids) if d not in out]
        if missing:
            got = dict.fromkeys(missing)
            for r in self._fetch_df(index, missing).collect():
                got[r[ID_FIELD]] = r
            for d, r in got.items():
                if len(self._doc_cache) >= DOC_CACHE_ENTRIES:
                    self._doc_cache.pop(next(iter(self._doc_cache)))
                self._doc_cache[(index, d)] = r
            out.update(got)
        return out

    def _probed_terms_df(self, index: str, queries: list) -> DataFrame:
        """The (vec_id, tbl, hash) term rows of the ≤ Q·T (tbl, bucket)
        directories the stored query rows `queries` probe, read from the
        cached terms snapshot: the same packed-key IN PartitionFilters
        shape as load_lsh_partitions, without its per-call listing (see
        the _terms_cache note in __init__); directories shared by several
        queries are read once. A scan and a projection: one job, no
        shuffle."""
        from .sources.index_store import partition_key_filter, term_part

        pairs = sorted({term_part(t, h) for q in queries for t, h in enumerate(q["hashes"])})
        return (
            self._cached_terms(index)
            .where(partition_key_filter(["tbl", "bucket"], pairs))
            .select("vec_id", "tbl", "hash")
        )

    def _candidates(self, index: str, ids: list, k1: int) -> list:
        """The reference's term-match step for the (coerced) query `ids`,
        ranked on the driver: (query_id, neighbor_id, n_match, query
        vector) for each query's top k1 neighbours by (-n_match,
        neighbor_id). The stored query docs come from _fetch_docs, their
        candidates from ONE Arrow read of the probed term directories
        (_probed_terms_df). A neighbour matches a query once per table
        whose hash it shares; a term of a table the query doc lacks (an
        index may mix models across batches) matches nothing. Python
        orders ints like Spark's bigint and str by code point like
        Spark's UTF-8 bytes, so the cut equals a rank window's."""
        import numpy as np

        found = [(d, q) for d, q in self._fetch_docs(index, ids).items() if q is not None]
        if not found:
            return []
        terms = self._probed_terms_df(index, [q for _d, q in found]).toArrow()
        vec_id = terms.column("vec_id").to_numpy(zero_copy_only=False)
        tbl = terms.column("tbl").to_numpy()
        hsh = terms.column("hash").to_numpy()
        out = []
        for d, q in found:
            qh = np.asarray(q["hashes"], dtype=np.int64)
            own = tbl < len(qh)
            hit = own & (hsh == qh[np.where(own, tbl, 0)]) & (vec_id != d)
            # unique sorts the ids ascending; a stable sort keeps that
            # order among equal counts
            nbrs, n_match = np.unique(vec_id[hit], return_counts=True)
            top = np.argsort(-n_match, kind="stable")[:k1]
            qv = list(q[VECTOR_FIELD])
            out += [(d, nid, n, qv) for nid, n in zip(nbrs[top].tolist(), n_match[top].tolist())]
        return out

    def _gather_df(self, index: str, candidates: list) -> DataFrame:
        """The exact re-rank gather of _candidates' rows: one local
        relation joined to the docs snapshot on neighbor_id, each pair
        scored by the same rounded euclidean expression as
        knn.rank_term_matches. The collect runs two jobs, the local
        side's broadcast and the streamed docs scan, and no shuffle; the
        top k2 per query is kept by msearch."""
        from .functions.vector import euclidean

        docs = self._cached_docs(index)
        id_type = dict(docs.dtypes)[ID_FIELD]
        cands = _local_df(
            self.spark,
            candidates,
            f"query_id {id_type}, neighbor_id {id_type}, n_match bigint, qv array<double>",
        )
        nvec = docs.select(F.col(ID_FIELD).alias("neighbor_id"), F.col(VECTOR_FIELD).alias("nv"))
        return F.broadcast(cands).join(nvec, "neighbor_id").select(
            "query_id",
            "neighbor_id",
            "n_match",
            F.round(euclidean(F.col("qv"), F.col("nv")), DIST_ROUND).alias("distance"),
        )

    def msearch(self, index: str, doc_ids: list, k1: int = ANN_K1, k2: int = ANN_K2) -> dict:
        """Batched search — ES `_msearch` parity, JSON-body form: one
        response per requested id, in request order, each identical to the
        single-id GET's payload. A cached search is two Spark reads: the
        probed term directories (_candidates ranks the term matches on the
        driver) and the ≤ Q·k1 re-rank gather (_gather_df), whose scored
        rows are sorted here; a stored-doc fetch job is added on a doc
        cache miss. Neither read shuffles, and Q queries share each one.
        `doc_ids` must be a list and k1, k2 integers of at least 1
        (ValueError → 400): a JSON string would otherwise be searched char
        by char, a JSON 1.5 or true would be truncated, and a non-positive
        k answers an empty 200 that looks like a miss."""
        if not isinstance(doc_ids, list):
            raise ValueError(f"ids must be a JSON list, got {type(doc_ids).__name__}")
        if type(k1) is not int or type(k2) is not int:
            raise ValueError(f"k1 and k2 must be integers, got k1={k1!r}, k2={k2!r}")
        if k1 < 1 or k2 < 1:
            raise ValueError(f"k1 and k2 must be >= 1, got k1={k1}, k2={k2}")
        with self._lock:
            id_type = dict(self._cached_docs(index).dtypes)[ID_FIELD]
            cands = self._candidates(index, self._coerce_ids(id_type, doc_ids), k1)
            rows = self._gather_df(index, cands).collect() if cands else []
        # at most Q·k1 rows: the top k2 of each query in (distance,
        # neighbor_id) order, as a rank window would keep them — no
        # distance is NaN (_docs_df refuses non-finite components),
        # neighbor ids are unique per query, and str order is code-point
        # order, which is Spark's UTF-8 byte order
        by_qid: dict = {}
        for r in sorted(rows, key=lambda r: (r.distance, r.neighbor_id)):
            hits = by_qid.setdefault(r.query_id, [])
            if len(hits) < k2:
                hits.append(r)
        responses = []
        for d in doc_ids:
            keyed = self._coerce_ids(id_type, [d])
            hits = by_qid.get(keyed[0], []) if keyed else []
            responses.append(
                {
                    "timed_out": False,
                    "hits": {
                        "total": len(hits),
                        "hits": [
                            {"_id": r.neighbor_id, "_score": r.distance, "n_match": r.n_match}
                            for r in hits
                        ],
                    },
                }
            )
        return {"responses": responses}

    def search(self, index: str, doc_id, k1: int = ANN_K1, k2: int = ANN_K2) -> dict:
        return self.msearch(index, [doc_id], k1, k2)["responses"][0]

    def get_doc(self, index: str, doc_id) -> dict | None:
        """ES GET /{index}/{id} parity (r13, #163): the stored document's
        source vector, or None → the handler's 404. Reads the id's single
        pruned id_bucket directory through the same per-id cache the
        serving path warms (_fetch_docs). JSON round-trips the doubles
        exactly, so the wire doc equals the stored doc bit-for-bit."""
        with self._lock:
            id_type = dict(self._cached_docs(index).dtypes)[ID_FIELD]
            ids = self._coerce_ids(id_type, [doc_id])
            q = self._fetch_docs(index, ids)[ids[0]] if ids else None
        if q is None:
            return None
        return {
            "_index": index,
            "_id": q[ID_FIELD],
            "found": True,
            "_source": {VECTOR_FIELD: list(q[VECTOR_FIELD])},
        }

    def models(self) -> dict:
        return {"models": self.registry.names()}


def _path_parts(path: str) -> list[str]:
    """The non-empty segments of a URL path, each percent-decoded: a
    client encodes a space or non-ASCII char of an id (and a '/' inside
    one stays inside its segment)."""
    return [unquote(p) for p in path.split("/") if p]


def _make_handler(server: AknnHttpServer):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # keep test output clean
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _fail(self, exc: Exception) -> None:
            if isinstance(exc, IndexNotFoundError):
                # ES's index_not_found shape: names the index, not a path
                self._reply(
                    404,
                    {
                        "error": {
                            "type": "index_not_found_exception",
                            "reason": str(exc),
                            "index": exc.index,
                        },
                        "status": 404,
                    },
                )
            else:
                code = 503 if isinstance(exc, TornIndexError) else 400
                self._reply(code, {"error": f"{type(exc).__name__}: {exc}"})

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length", "0"))
            return json.loads(self.rfile.read(n) or b"{}")

        def do_POST(self) -> None:
            try:
                path = urlparse(self.path).path
                if path == "/_aknn_create":
                    self._reply(200, server.create(self._body()))
                elif path == "/_aknn_index":
                    self._reply(200, server.index(self._body()))
                elif path == "/_aknn_delete":
                    body = self._body()
                    n = server.delete_ids(body["_index"], body["ids"])
                    self._reply(200, {"_index": body["_index"], "deleted": n})
                elif path == "/_aknn_refresh":
                    self._reply(200, server.refresh(self._body()["_index"]))
                elif path == "/_aknn_compact":
                    self._reply(200, server.compact(self._body()["_index"]))
                elif path.endswith("/_aknn_msearch"):
                    # ES _msearch parity (JSON-body form): POST
                    # /{index}/_aknn_msearch {"ids": [...], "k1":, "k2":}
                    parts = _path_parts(path)
                    if len(parts) != 2:
                        self._reply(404, {"error": f"no such endpoint: {path}"})
                        return
                    body = self._body()
                    self._reply(
                        200,
                        server.msearch(
                            parts[0],
                            body["ids"],
                            body.get("k1", ANN_K1),
                            body.get("k2", ANN_K2),
                        ),
                    )
                else:
                    self._reply(404, {"error": f"no such endpoint: {path}"})
            except Exception as exc:  # noqa: BLE001 — wire boundary
                self._fail(exc)

        def do_GET(self) -> None:
            try:
                parsed = urlparse(self.path)
                parts = _path_parts(parsed.path)
                if parsed.path == "/_aknn_models":
                    self._reply(200, server.models())
                elif len(parts) == 3 and parts[2] == "_aknn_search":
                    q = parse_qs(parsed.query)
                    self._reply(
                        200,
                        server.search(
                            parts[0],
                            parts[1],
                            int(q.get("k1", [ANN_K1])[0]),
                            int(q.get("k2", [ANN_K2])[0]),
                        ),
                    )
                elif len(parts) == 2 and not parts[1].startswith("_"):
                    # ES doc-GET parity: GET /{index}/{id} → stored doc
                    doc = server.get_doc(parts[0], parts[1])
                    if doc is None:
                        self._reply(
                            404,
                            {"_index": parts[0], "_id": parts[1], "found": False},
                        )
                    else:
                        self._reply(200, doc)
                else:
                    self._reply(404, {"error": f"no such endpoint: {parsed.path}"})
            except Exception as exc:  # noqa: BLE001 — wire boundary
                self._fail(exc)

        def do_DELETE(self) -> None:
            # ES wire parity: DELETE /{index} drops the index (also the
            # torn-write recovery path); DELETE /{index}/{id} deletes one
            # document with 200 deleted / 404 not_found semantics
            try:
                path = urlparse(self.path).path
                parts = _path_parts(path)
                if len(parts) == 1:
                    found = server.drop_index(parts[0])
                    self._reply(200 if found else 404, {"acknowledged": found})
                elif len(parts) == 2:
                    n = server.delete_ids(parts[0], [parts[1]])
                    self._reply(
                        200 if n else 404,
                        {
                            "_index": parts[0],
                            "_id": parts[1],
                            "result": "deleted" if n else "not_found",
                        },
                    )
                else:
                    self._reply(404, {"error": f"no such endpoint: {path}"})
            except Exception as exc:  # noqa: BLE001 — wire boundary
                self._fail(exc)

    return Handler


# server + indexed store, once per (SparkContext, sf_dir, tag) — the
# facade's create+index phase is index MAINTENANCE; repeat calls measure
# serving
_SERVER_CACHE: dict[tuple, AknnHttpServer] = {}


def _http_post(port: int, path: str, payload: dict) -> dict:
    from urllib.request import Request, urlopen

    req = Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urlopen(req) as resp:
        out = json.loads(resp.read())
    if "error" in out:
        raise RuntimeError(f"{path}: {out['error']}")
    return out


def _http_get(port: int, path: str) -> dict:
    from urllib.request import urlopen

    with urlopen(f"http://127.0.0.1:{port}{path}") as resp:
        out = json.loads(resp.read())
    if "error" in out:
        raise RuntimeError(f"{path}: {out['error']}")
    return out


def aknn_http_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #156): the three HTTP endpoints driven
    over a real localhost socket — model fit via POST /_aknn_create (the
    canonical 2·T·B sample posted in the body), the full embeddings table
    POSTed through /_aknn_index in batches into the partition-pruned
    store, and the canonical query ids searched in one POST
    /{index}/_aknn_msearch — then the JSON hit lists reassembled into the
    (query_id, neighbor_id, n_match, distance) frame. Gated by the shared
    ann_search_lsh oracle: the wire round-trip (JSON floats both
    directions — exact, shortest-repr) must be bit-identical to the
    in-memory search path. Reads the same built server as
    aknn_http_search_store (shared _SERVER_CACHE entry, no second
    index load)."""
    return _drive_endpoints(spark, sf_dir)


def aknn_http_search_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #157, r11): the same drive as
    aknn_http_search over the same server — docs/ by id_bucket, terms/ by
    (tbl, bucket). Gated by the same shared ann_search_lsh oracle: the
    pruned serving path must be bit-identical to the in-memory search,
    proving the 100 TB layout is lossless behind the wire protocol."""
    return _drive_endpoints(spark, sf_dir)


def aknn_http_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #160, r11): the reference's REPLACE
    semantics over the wire. An ES index op with an existing _id replaces
    the stored document — so `/_aknn_index` purges incoming ids from the
    store before appending (pruned dynamic overwrite of the ≤ |batch|
    docs directories and the doomed ids' term directories).
    The drive posts the full table, then RE-POSTS the canonical update set
    (vec_id % UPSERT_MOD == 0, every component doubled — IEEE-exact, and
    JSON round-trips doubles exactly) through the same endpoint against
    the pruned store layout, then searches. Gated by the index_upsert
    oracle: the wire replace must equal a full index rebuild on the
    updated table, so a leaked stale row (hash or vector) from the
    replaced docs fails the hash gate."""
    from .constants import UPSERT_MOD

    def update(docs: list[dict]) -> list[dict]:
        return [
            {
                ID_FIELD: d[ID_FIELD],
                "_source": {
                    VECTOR_FIELD: [2.0 * x for x in d["_source"][VECTOR_FIELD]]
                },
            }
            for d in docs
            if d[ID_FIELD] % UPSERT_MOD == 0
        ]

    return _drive_endpoints(spark, sf_dir, tag="upsert", repost=update)


def aknn_http_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #161, r12): ES document-DELETE parity —
    the last wire CRUD gap (r11 verdict item 1; ES serves DELETE
    /{index}/{id} natively, and a GDPR purge hits it immediately). The
    drive posts the full table into the pruned store layout, bulk-deletes
    the canonical purge set (vec_id % DELETE_MOD == DELETE_REM) over the
    wire via POST /_aknn_delete — the single-doc DELETE /{index}/{id}
    endpoint runs the same delete_ids path with 200 deleted / 404
    not_found semantics, unit-tested — then searches every
    canonical query id. Gated by the shared index_delete oracle: the wire
    purge must equal a full rebuild on the filtered corpus; a purged QUERY
    id returns zero hits (unknown-id semantics) and so contributes no rows
    — exactly rebuild semantics."""
    from .constants import DELETE_MOD, DELETE_REM

    def purge(port: int, docs: list[dict]) -> None:
        doomed = [
            d[ID_FIELD] for d in docs if d[ID_FIELD] % DELETE_MOD == DELETE_REM
        ]
        out = _http_post(port, "/_aknn_delete", {"_index": "vectors", "ids": doomed})
        if out["deleted"] != len(doomed):
            raise RuntimeError(
                f"wire delete removed {out['deleted']} of {len(doomed)} docs"
            )

    return _drive_endpoints(spark, sf_dir, tag="delete", mutate=purge)


def aknn_http_doc_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #163, r13): ES document-GET parity —
    GET /{index}/{id} returns the stored doc from its single pruned
    id_bucket directory (the exact read + per-id cache the serving path
    uses), 404 for an unknown id. The drive reuses the store-backed
    search server's built index (shared _SERVER_CACHE key — no second
    load), GETs every canonical query id plus one unknown id (asserted
    404, contributing no rows), and explodes the JSON vectors to
    (vec_id, dim, x) rows. Gated directly against the embeddings
    parquet: JSON round-trips doubles exactly, so a stored-vector byte
    flip anywhere in hash/append/compact fails the hash gate."""
    import urllib.error

    from .constants import N_QUERIES

    srv = _ensure_server(spark, sf_dir)
    rows = []
    for qid in range(N_QUERIES):
        res = _http_get(srv.port, f"/vectors/{qid}")
        assert res["found"] is True and res["_id"] == qid
        for i, x in enumerate(res["_source"][VECTOR_FIELD]):
            rows.append((qid, i, float(x)))
    try:
        _http_get(srv.port, "/vectors/987654321")
        raise RuntimeError("unknown id must 404")
    except urllib.error.HTTPError as e:
        if e.code != 404:
            raise
    return spark.createDataFrame(rows, "vec_id bigint, dim int, x double")


def aknn_http_bulk_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #162, r12): ES refresh-semantics bulk
    loading over the wire — the answer to r11's honest 749 s / 200k wire
    ingest number. Every /_aknn_index batch is posted with
    "refresh": false (hash + ONE narrow staging append per request — no
    probe/purge/partitioned-write jobs), then a single POST /_aknn_refresh
    merges the staged batches into the pruned store layout through the
    batch builder's clustered writes, with last-occurrence-of-an-id-wins
    across batches (ES op order). Gated by the shared ann_search_lsh
    oracle like the other serving keys: searches over the bulk-loaded
    store must be bit-identical to the in-memory search path, so a doc
    lost (or duplicated) anywhere in stage → merge fails the hash gate."""
    return _drive_endpoints(spark, sf_dir, tag="bulk", bulk=True)


def _ensure_server(
    spark: SparkSession,
    sf_dir: str,
    tag: str | None = None,
    repost=None,
    mutate=None,
    bulk: bool = False,
) -> AknnHttpServer:
    """Build (or reuse from _SERVER_CACHE) the drive server for one
    tag — create + index + optional mutate + compact. Split out
    of _drive_endpoints (r13) so non-search drives (doc GET) share the
    same built store instead of paying a second load."""
    from . import io
    from .session import configure

    configure(spark)
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    srv = _SERVER_CACHE.get(key)
    if srv is None:
        kind = f"aknn_http_{tag}" if tag else "aknn_http_store"
        srv = AknnHttpServer(spark, io.scratch_dir(kind, sf_dir)).start()
        try:
            emb = io.table(spark, sf_dir, "embeddings", widen=True)
            docs = [
                {ID_FIELD: int(r.vec_id), "_source": {VECTOR_FIELD: list(r.embedding)}}
                for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()
            ]
            need = 2 * LSH_TABLES * LSH_BITS
            _http_post(srv.port, "/_aknn_create", {"_id": "default", "docs": docs[:need]})
            batches = [docs[i : i + 5000] for i in range(0, len(docs), 5000)]
            if repost is not None:
                batches += [b for b in (repost(docs[i : i + 5000]) for i in range(0, len(docs), 5000)) if b]
            for batch in batches:
                payload = {"model": "default", "_index": "vectors", "docs": batch}
                if bulk:
                    payload["refresh"] = False
                _http_post(srv.port, "/_aknn_index", payload)
            if bulk:
                _http_post(srv.port, "/_aknn_refresh", {"_index": "vectors"})
            if mutate is not None:
                mutate(srv.port, docs)
            # r13: close the maintenance loop the r12 verdict flagged —
            # the batched appends (and any purge/replace churn) leave one
            # file per touched directory per request; a real operator
            # compacts after a load, so the drives do too. Served rows are
            # unchanged (same oracle gates them).
            _http_post(srv.port, "/_aknn_compact", {"_index": "vectors"})
        except BaseException:
            # ADVICE r11: never cache a partially-built server — a same-
            # session retry would skip indexing and gate against a partial
            # store with a confusing oracle mismatch instead of this error
            srv.stop()
            raise
        _SERVER_CACHE[key] = srv
    return srv


def _drive_endpoints(
    spark: SparkSession,
    sf_dir: str,
    tag: str | None = None,
    repost=None,
    mutate=None,
    bulk: bool = False,
) -> DataFrame:
    from .constants import N_QUERIES

    srv = _ensure_server(spark, sf_dir, tag, repost, mutate, bulk)
    # r13: the canonical queries go over the wire as ONE _aknn_msearch
    # request — Q queries share one ranked collect instead of paying
    # Q × fixed per-request driver cost (the r12 verdict's job-count
    # item); per-query payloads are identical to the per-id GET's (the
    # endpoint is unit-tested equal), so the gate is unchanged
    rows = []
    res = _http_post(
        srv.port,
        "/vectors/_aknn_msearch",
        {"ids": list(range(N_QUERIES)), "k1": ANN_K1, "k2": ANN_K2},
    )
    for qid, r in zip(range(N_QUERIES), res["responses"]):
        for h in r["hits"]["hits"]:
            rows.append((qid, h["_id"], h["n_match"], h["_score"]))
    return spark.createDataFrame(
        rows, "query_id bigint, neighbor_id bigint, n_match bigint, distance double"
    )
