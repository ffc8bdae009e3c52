"""HTTP serving-layer contracts beyond the basic endpoint test
(tests/test_operators.py::test_aknn_http_server_endpoints): the served
snapshot equals the in-memory search, a warm read runs no Spark job, the
id-type and dimension pinning rules (ADVICE r10), replace/delete/refresh
semantics, torn-write and unknown-index errors, and per-index snapshot
invalidation."""

from __future__ import annotations

import json as _json
import tempfile
import urllib.error
import urllib.request
from urllib.parse import quote

import pytest

from elastik_nearest_neighbors_spark import constants
from elastik_nearest_neighbors_spark import io as eio
from elastik_nearest_neighbors_spark import plans
from elastik_nearest_neighbors_spark.api import aknn_index, aknn_search
from elastik_nearest_neighbors_spark.server import AknnHttpServer, _http_get, _http_post
from tests.conftest import SF_SMALL


def _sample_docs(spark, n=300):
    emb = eio.table(spark, SF_SMALL, "embeddings", widen=True)
    return [
        {"_id": int(r.vec_id), "_source": {"_aknn_vector": list(r.embedding)}}
        for r in emb.select("vec_id", "embedding").orderBy("vec_id").limit(n).collect()
    ]


def _serve(spark, docs, batches=1, sample=None):
    """sample: the /_aknn_create fit docs — defaults to docs[:24], but a
    comparison server indexing MUTATED docs must fit from the SAME sample
    as its twin, or the two servers hold different LSH models and any
    result equality is a data coincidence."""
    srv = AknnHttpServer(spark, tempfile.mkdtemp(prefix="enn_http_test_")).start()
    _http_post(
        srv.port,
        "/_aknn_create",
        {"_id": "m", "nb_tables": 4, "nb_bits_per_table": 3,
         "docs": (sample if sample is not None else docs[:24])},
    )
    step = max(1, len(docs) // batches)
    for i in range(0, len(docs), step):
        _http_post(
            srv.port,
            "/_aknn_index",
            {"model": "m", "_index": "idx", "docs": docs[i : i + step]},
        )
    return srv


def _reference(spark, srv, docs, qids, k1=50, k2=5):
    """The wire response each of `qids` must get, computed by the in-memory
    api.aknn_search over the server's own model and the same docs (string
    ids if any doc id is a string)."""
    id_type = "string" if any(isinstance(d["_id"], str) for d in docs) else "bigint"
    frame = spark.createDataFrame(
        [(d["_id"], d["_source"]["_aknn_vector"]) for d in docs],
        f"_id {id_type}, _aknn_vector array<double>",
    )
    indexed = aknn_index(frame, srv.registry.get("m"))
    rows = aknn_search(indexed, qids, k1, k2).orderBy(
        "query_id", "distance", "neighbor_id"
    ).collect()
    out = {q: [] for q in qids}
    for r in rows:
        out[r.query_id].append(
            {"_id": r.neighbor_id, "_score": r.distance, "n_match": r.n_match}
        )
    return {
        q: {"timed_out": False, "hits": {"total": len(h), "hits": h}}
        for q, h in out.items()
    }


def test_http_store_mode_matches_flat_and_prunes(spark):
    """r11 (#157): the store-backed server (MULTI-batch append) must return
    exactly the wire responses the in-memory api.aknn_search gives over the
    same model and docs. The store is docs/ alone, partitioned by
    id_bucket (a replace or delete rewrites only its ids' directories):
    the served postings are rebuilt from the stored hashes, so no terms/
    side is written. It is the only layout: asking for another one is an
    error."""
    import os
    with pytest.raises(ValueError):
        AknnHttpServer(spark, tempfile.mkdtemp(prefix="enn_http_test_"), store_backed=False)
    docs = _sample_docs(spark)
    store = _serve(spark, docs, batches=3)
    try:
        qids = [docs[0]["_id"], docs[7]["_id"], docs[123]["_id"]]
        want = _reference(spark, store, docs, qids)
        for qid in qids:
            got = _http_get(store.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            assert got == want[qid], (qid, got, want[qid])
            assert got["hits"]["total"] == 5
        base = os.path.join(store.root, "indexes", "idx")
        assert sorted(os.listdir(base)) == ["docs"], os.listdir(base)
        docs_dir = os.path.join(base, "docs")
        parts = [p for p in os.listdir(docs_dir) if os.path.isdir(os.path.join(docs_dir, p))]
        assert len(parts) > 1 and all(p.startswith("id_bucket=") for p in parts), parts
    finally:
        store.stop()


def _post_raw(port, path, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=_json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    return urllib.request.urlopen(req)


def test_http_index_id_type_pinned(spark):
    """ADVICE r10: the index's FIRST batch pins the _id type. A string-id
    batch against a bigint-pinned index must 400 (not append a torn
    schema); an int-id batch against a string-pinned index is cast and
    stays searchable — by GET and by msearch with JSON int ids, which
    must answer exactly what the per-id GETs do. On a bigint-pinned index
    a JSON 1.5 or true is not an id: zero hits, not doc 1's."""
    docs = _sample_docs(spark, n=64)
    srv = _serve(spark, docs[:32])
    try:
        bad = [{"_id": f"doc-{i}", "_source": d["_source"]} for i, d in enumerate(docs[32:48])]
        try:
            _post_raw(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": bad})
            raise AssertionError("expected 400 for string ids on bigint-pinned index")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "pins _id type bigint" in _json.loads(e.read())["error"]
        # the rejected batch must not have corrupted the store
        res = _http_get(srv.port, f"/idx/{docs[0]['_id']}/_aknn_search?k1=50&k2=5")
        assert res["hits"]["total"] == 5
        assert docs[1]["_id"] == 1
        out = _http_post(srv.port, "/idx/_aknn_msearch", {"ids": [1.5, True, 1], "k1": 50, "k2": 5})
        assert [r["hits"]["total"] for r in out["responses"]] == [0, 0, 5], out

        # string-pinned index: first batch has a string id -> later
        # all-int batches are cast losslessly and searchable
        first = [dict(docs[0], _id="s-0")] + docs[1:8]
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "sidx", "docs": first})
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "sidx", "docs": docs[8:32]})
        res = _http_get(srv.port, "/sidx/s-0/_aknn_search?k1=50&k2=5")
        assert res["hits"]["total"] == 5
        res2 = _http_get(srv.port, f"/sidx/{docs[9]['_id']}/_aknn_search?k1=50&k2=5")
        assert res2["hits"]["total"] == 5
        ids = [docs[9]["_id"], "s-0", docs[20]["_id"], 999999]
        out = _http_post(srv.port, "/sidx/_aknn_msearch", {"ids": ids, "k1": 50, "k2": 5})
        for d, r in zip(ids, out["responses"]):
            assert r == _http_get(srv.port, f"/sidx/{d}/_aknn_search?k1=50&k2=5"), d
        assert out["responses"][0] == res2
    finally:
        srv.stop()


def test_http_index_replaces_by_id(spark):
    """r11 (#160): ES replace-on-index semantics — re-posting an _id must
    replace the stored doc, and the result must equal a
    fresh server indexed with the final state; within a batch the last
    occurrence wins."""
    docs = _sample_docs(spark, n=96)
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:16]
    ]
    final = moved + docs[16:]
    srv = _serve(spark, docs, batches=2)
    # the reference server indexes the FINAL state but must fit its
    # model from the same original sample as srv (fitting from `final`
    # gives a different model, and equality would hold only by data
    # coincidence)
    fresh = _serve(spark, final, batches=2, sample=docs[:24])
    try:
        # re-post the moved docs; also exercise last-wins within batch
        # (a stale copy of each doc precedes its moved version)
        _http_post(srv.port, "/_aknn_index",
                   {"model": "m", "_index": "idx", "docs": docs[:16] + moved})
        for qid in (docs[0]["_id"], docs[5]["_id"], docs[40]["_id"]):
            a = _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            b = _http_get(fresh.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            assert a == b, (qid, a, b)
    finally:
        srv.stop()
        fresh.stop()


def test_http_unknown_doc_is_200_empty_in_both_modes(spark):
    """r11: an unknown doc id must be a 200 with zero hits (the pruned
    layout once turned it into a 400 KeyError)."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        res = _http_get(srv.port, "/idx/999999/_aknn_search?k1=50&k2=5")
        assert res == {"timed_out": False, "hits": {"total": 0, "hits": []}}, res
    finally:
        srv.stop()


def test_http_failed_repost_preserves_stored_doc(spark):
    """r11 review: a replace must NOT destroy on failure — a re-post whose
    vector has the wrong dimension 400s with the store (and the old doc)
    intact."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        before = _http_get(srv.port, f"/idx/{docs[0]['_id']}/_aknn_search?k1=50&k2=5")
        bad = [{"_id": docs[0]["_id"], "_source": {"_aknn_vector": [1.0, 2.0]}}]
        try:
            _post_raw(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": bad})
            raise AssertionError("expected 400 for wrong-dimension vector")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        after = _http_get(srv.port, f"/idx/{docs[0]['_id']}/_aknn_search?k1=50&k2=5")
        assert after == before, (before, after)
    finally:
        srv.stop()


def test_http_non_numeric_unknown_id_is_200_empty(spark):
    """r11 review: a NON-NUMERIC unknown id on a bigint-pinned index must
    also take the 200/zero-hits path (not a 400 from int())."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        res = _http_get(srv.port, "/idx/not-a-number/_aknn_search?k1=50&k2=5")
        assert res == {"timed_out": False, "hits": {"total": 0, "hits": []}}, res
    finally:
        srv.stop()


def _delete_raw(port, path):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", method="DELETE")
    return urllib.request.urlopen(req)


def test_http_delete_doc_200_404_and_matches_fresh(spark):
    """r12 (#161): DELETE /{index}/{id} removes the stored doc (200
    result:deleted), a repeat or unknown id is a 404 result:not_found, and
    post-delete searches equal a fresh server indexed without the doc."""
    docs = _sample_docs(spark, n=96)
    victim = docs[3]["_id"]
    srv = _serve(spark, docs, batches=2)
    fresh = _serve(spark, [d for d in docs if d["_id"] != victim], sample=docs[:24])
    try:
        res = _json.loads(_delete_raw(srv.port, f"/idx/{victim}").read())
        assert res["result"] == "deleted", res
        for bad in (victim, 999999, "not-a-number"):
            try:
                _delete_raw(srv.port, f"/idx/{bad}")
                raise AssertionError(f"expected 404 deleting {bad!r}")
            except urllib.error.HTTPError as e:
                assert e.code == 404
                assert _json.loads(e.read())["result"] == "not_found"
        # deleted doc searches as unknown: 200 with zero hits
        res = _http_get(srv.port, f"/idx/{victim}/_aknn_search?k1=50&k2=5")
        assert res["hits"]["total"] == 0, res
        # remaining corpus serves exactly like a never-indexed-it twin
        for qid in (docs[0]["_id"], docs[40]["_id"]):
            a = _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            b = _http_get(fresh.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            assert a == b, (qid, a, b)
    finally:
        srv.stop()
        fresh.stop()


def test_http_bulk_delete_empties_directories(spark):
    """r12: POST /_aknn_delete purges a whole id set in one request and
    reports the count; a docs id_bucket directory emptied by
    the purge is physically removed (the index_store helper's emptied-dir
    contract) while surviving buckets keep serving."""
    import os as _os

    from pyspark.sql import functions as F

    docs = _sample_docs(spark, n=64)
    srv = _serve(spark, docs, batches=2)
    try:
        stored = srv._read_docs("idx").select("_id", "id_bucket").collect()
        by_bucket: dict[int, list] = {}
        for r in stored:
            by_bucket.setdefault(int(r.id_bucket), []).append(r._id)
        # kill every doc of one bucket (plus one from another: the bulk
        # request spans buckets) -> that directory must vanish
        doomed_bucket = min(by_bucket)
        other_bucket = max(by_bucket)
        assert doomed_bucket != other_bucket
        doomed = by_bucket[doomed_bucket] + by_bucket[other_bucket][:1]
        out = _http_post(srv.port, "/_aknn_delete", {"_index": "idx", "ids": doomed})
        assert out["deleted"] == len(doomed), (out, len(doomed))
        ddir = _os.path.join(srv._docs_path("idx"), f"id_bucket={doomed_bucket}")
        assert not _os.path.isdir(ddir), "emptied id_bucket dir must be removed"
        survivor = next(i for i in by_bucket[other_bucket] if i not in doomed)
        res = _http_get(srv.port, f"/idx/{survivor}/_aknn_search?k1=50&k2=5")
        assert res["hits"]["total"] == 5
        # no purged id may reappear as a neighbor
        assert not set(h["_id"] for h in res["hits"]["hits"]) & set(doomed)
        # idempotent: the same bulk request now deletes nothing
        assert _http_post(srv.port, "/_aknn_delete", {"_index": "idx", "ids": doomed})["deleted"] == 0
    finally:
        srv.stop()


def test_http_torn_marker_503_and_drop_recovers(spark):
    """r12 (ADVICE r11): a surviving dirty marker (crash mid-mutation) must
    turn every serving and mutating request into a DETECTED 503, not
    silently-served recall loss; DELETE /{index} is the recovery path —
    it drops data + marker and a re-index serves again."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        qid = docs[0]["_id"]
        assert _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")["hits"]["total"] == 5
        # simulate the crash: marker on disk, the index's snapshot dropped
        # (every real mutation drops it before the marker could stay)
        open(srv._dirty_marker("idx"), "w").close()
        srv._forget("idx")
        for req in (
            lambda: _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5"),
            lambda: _http_get(srv.port, f"/idx/{qid}"),
            lambda: _post_raw(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": docs[:4]}),
            lambda: _delete_raw(srv.port, f"/idx/{qid}"),
        ):
            try:
                req()
                raise AssertionError("expected 503 on a torn index")
            except urllib.error.HTTPError as e:
                assert e.code == 503, e.code
                assert "TornIndexError" in _json.loads(e.read())["error"]
        # recovery: drop the index (works WHILE torn), then re-index
        assert _json.loads(_delete_raw(srv.port, "/idx").read())["acknowledged"]
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": docs})
        assert _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")["hits"]["total"] == 5
        # a successful mutation leaves no marker behind
        import os as _os

        assert not _os.path.exists(srv._dirty_marker("idx"))
    finally:
        srv.stop()


def test_http_bulk_ingest_stage_refresh(spark):
    """r12 (#162): refresh=false stages without touching the live store
    (searches keep serving the pre-stage state — ES NRT), /_aknn_refresh
    merges with last-staged-occurrence-of-an-id-wins across batches, the
    merged server equals a fresh immediate-mode twin indexed with the
    final state, and an empty refresh is a no-op."""
    docs = _sample_docs(spark, n=96)
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:16]
    ]
    stale = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [3.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:8]
    ]
    final = moved + docs[16:]
    srv = _serve(spark, docs, batches=2)
    fresh = _serve(spark, final, batches=2, sample=docs[:24])
    try:
        qid = docs[0]["_id"]
        before = _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
        # stage two batches: the stale versions first, the real moved
        # versions second — refresh must apply the LATER batch
        for batch in (stale, moved):
            out = _http_post(
                srv.port,
                "/_aknn_index",
                {"model": "m", "_index": "idx", "docs": batch, "refresh": False},
            )
            assert out["staged"] == len(batch), out
        # staged batches are invisible until refresh (ES NRT)
        assert _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5") == before
        out = _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})
        assert out["merged"] == len(moved), out
        for q in (docs[0]["_id"], docs[5]["_id"], docs[40]["_id"]):
            a = _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            b = _http_get(fresh.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            assert a == b, (q, a, b)
        # nothing staged -> refresh is a cheap no-op
        assert _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})["merged"] == 0
    finally:
        srv.stop()
        fresh.stop()


def test_http_bulk_staging_survives_restart_and_drop_clears_it(spark):
    """r12 (#162): staged batches live on disk with their batch_seq, so a
    NEW server over the same root re-derives the sequence (later staged
    batches still win) and can refresh work staged before the restart;
    DELETE /{index} clears staging too. Also: an index that exists ONLY
    as staging pins the _id type for later staged batches."""
    import tempfile as _tempfile

    docs = _sample_docs(spark, n=48)
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:8]
    ]
    root = _tempfile.mkdtemp(prefix="enn_http_test_")
    srv = AknnHttpServer(spark, root).start()
    try:
        _http_post(srv.port, "/_aknn_create",
                   {"_id": "m", "nb_tables": 4, "nb_bits_per_table": 3, "docs": docs[:24]})
        _http_post(srv.port, "/_aknn_index",
                   {"model": "m", "_index": "idx", "docs": docs, "refresh": False})
        # staged-only index pins the id type: a string-id staged batch 400s
        try:
            _post_raw(srv.port, "/_aknn_index",
                      {"model": "m", "_index": "idx", "refresh": False,
                       "docs": [{"_id": "s-0", "_source": docs[0]["_source"]}]})
            raise AssertionError("expected 400 for string ids on bigint-staged index")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()
    srv2 = AknnHttpServer(spark, root).start()
    fresh = _serve(spark, moved + docs[8:], sample=docs[:24])
    try:
        # staged AFTER the restart, must still sort after the first batch
        _http_post(srv2.port, "/_aknn_index",
                   {"model": "m", "_index": "idx", "docs": moved, "refresh": False})
        assert _http_post(srv2.port, "/_aknn_refresh", {"_index": "idx"})["merged"] == len(docs)
        for q in (docs[0]["_id"], docs[20]["_id"]):
            a = _http_get(srv2.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            b = _http_get(fresh.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            assert a == b, (q, a, b)
        # drop clears staging alongside data + marker
        _http_post(srv2.port, "/_aknn_index",
                   {"model": "m", "_index": "idx", "docs": docs[:4], "refresh": False})
        assert _json.loads(_delete_raw(srv2.port, "/idx").read())["acknowledged"]
        assert _http_post(srv2.port, "/_aknn_refresh", {"_index": "idx"})["merged"] == 0
    finally:
        srv2.stop()
        fresh.stop()


def test_http_concurrent_searches_during_mutations(spark):
    """r12 (r11 verdict stretch 8): the ThreadingHTTPServer + shared
    SparkSession serving claim under an actual race — search GETs fired
    continuously from several threads WHILE the main thread replaces and
    deletes docs. Every response must be a well-formed 200 equal to either
    the pre- or post-mutation state (the RLock serializes Spark work), and
    the store must end exactly at the post-state."""
    import threading as _threading

    docs = _sample_docs(spark, n=64)
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:8]
    ]
    srv = _serve(spark, docs, batches=2)
    # twins for the two post-mutation states, built up front so every
    # racing response can be checked against a LINEARIZABLE state:
    # s1 = initial, s2 = after the replace, s3 = after the delete
    mid = _serve(spark, moved + docs[8:], sample=docs[:24])
    post = _serve(
        spark,
        [d for d in (moved + docs[8:]) if d["_id"] != docs[9]["_id"]],
        sample=docs[:24],
    )
    try:
        qid = docs[40]["_id"]
        states = [_http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")]
        for twin in (mid, post):
            s = _http_get(twin.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            if s not in states:
                states.append(s)
        results: list = []
        errors: list = []
        stop = _threading.Event()

        def hammer():
            while not stop.is_set():
                try:
                    results.append(
                        _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
                    )
                except Exception as exc:  # noqa: BLE001 — collected for assert
                    errors.append(exc)

        threads = [_threading.Thread(target=hammer) for _ in range(4)]
        for t in threads:
            t.start()
        try:
            _http_post(srv.port, "/_aknn_index",
                       {"model": "m", "_index": "idx", "docs": moved})
            _http_post(srv.port, "/_aknn_delete",
                       {"_index": "idx", "ids": [docs[9]["_id"]]})
        finally:
            stop.set()
            for t in threads:
                t.join(timeout=120)
        assert not errors, errors[:3]
        assert results, "no concurrent search completed"
        bad = [r for r in results if r not in states]
        assert not bad, ("racing search returned a non-linearizable state", bad[:2])
        # the store settles at exactly the post-state twin
        for q in (docs[0]["_id"], docs[40]["_id"]):
            a = _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            b = _http_get(post.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            assert a == b, (q, a, b)
    finally:
        srv.stop()
        mid.stop()
        post.stop()


def test_http_msearch_matches_per_id_both_modes(spark):
    """r13 (the r12 verdict's job-count item): POST /{index}/_aknn_msearch
    must return, per id and in request order, exactly the per-id GET's
    payload — with unknown and non-numeric ids keeping the 200/zero-hits
    contract inside a batch and a repeated id answered like its GET."""
    docs = _sample_docs(spark)
    srv = _serve(spark, docs, batches=2)
    try:
        ids = [docs[0]["_id"], 99999999, docs[7]["_id"], "zzz", docs[123]["_id"], docs[0]["_id"]]
        out = _http_post(
            srv.port, "/idx/_aknn_msearch", {"ids": ids, "k1": 50, "k2": 5}
        )
        assert len(out["responses"]) == len(ids)
        for d, r in zip(ids, out["responses"]):
            single = _http_get(srv.port, f"/idx/{d}/_aknn_search?k1=50&k2=5")
            assert r == single, d
        assert out["responses"][1]["hits"]["total"] == 0
        assert out["responses"][3]["hits"]["total"] == 0
        assert out["responses"][0]["hits"]["total"] > 0
    finally:
        srv.stop()


def test_http_compact_shrinks_files_and_preserves_results(spark):
    """r13 (#163 wire compaction): POST /_aknn_compact must rewrite a
    multi-batch store's docs/ into one file per partition directory
    with search responses unchanged and equal to the in-memory
    api.aknn_search over the same model and docs, and 404 an unknown
    index."""
    import glob
    import os

    docs = _sample_docs(spark)
    srv = _serve(spark, docs, batches=5)
    try:
        qids = [docs[0]["_id"], docs[7]["_id"], docs[123]["_id"]]
        before = [
            _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5") for q in qids
        ]

        def max_files(sub):
            dirs = [
                d
                for d, _s, files in os.walk(os.path.join(srv.root, "indexes", "idx", sub))
                if any(f.endswith(".parquet") for f in files)
                for _ in [None]
            ]
            return max(
                len(glob.glob(os.path.join(d, "*.parquet"))) for d in dirs
            )

        assert max_files("docs") > 1  # the appends really did accumulate
        out = _http_post(srv.port, "/_aknn_compact", {"_index": "idx"})
        assert out == {"_index": "idx", "acknowledged": True, "compacted": True}
        assert max_files("docs") == 1
        after = [
            _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5") for q in qids
        ]
        assert before == after
        want = _reference(spark, srv, docs, qids)
        assert after == [want[q] for q in qids]
        try:
            _http_post(srv.port, "/_aknn_compact", {"_index": "nope"})
            raise AssertionError("unknown index must 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.stop()


def test_http_unknown_index_is_404_index_not_found(spark):
    """ES answers a request on a missing index with 404
    index_not_found_exception. Search, msearch, doc GET and compact must
    do the same, and the body names the index but never the server's
    storage path."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        base = f"http://127.0.0.1:{srv.port}"
        for req in (
            lambda: urllib.request.urlopen(f"{base}/nope/1/_aknn_search?k1=50&k2=5"),
            lambda: urllib.request.urlopen(f"{base}/nope/1"),
            lambda: _post_raw(srv.port, "/nope/_aknn_msearch", {"ids": [1]}),
            lambda: _post_raw(srv.port, "/_aknn_compact", {"_index": "nope"}),
        ):
            try:
                req()
                raise AssertionError("unknown index must 404")
            except urllib.error.HTTPError as e:
                assert e.code == 404
                raw = e.read().decode()
                body = _json.loads(raw)
                assert body["error"]["type"] == "index_not_found_exception", body
                assert body["error"]["index"] == "nope", body
                assert srv.root not in raw, raw
        # the existing index keeps serving
        assert _http_get(srv.port, f"/idx/{docs[0]['_id']}")["found"] is True
    finally:
        srv.stop()


def test_http_cache_invalidation_is_per_index(spark):
    """A mutation or drop of index `v` must rebuild `v`'s snapshot and
    leave `v2`'s alone (`v` is a prefix of `v2`): after it, a search on
    `v2` still runs no Spark job and one on `v` sees the mutation."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    moved = {"_id": docs[5]["_id"], "_source": docs[9]["_source"]}
    try:
        for name in ("v", "v2"):
            _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": name, "docs": docs})
            _http_get(srv.port, f"/{name}/{docs[5]['_id']}")
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "v", "docs": [moved]})
        group = f"enn-invalidation-{srv.port}"
        got, n = _jobs(spark, group + "-v2", lambda: srv.get_doc("v2", docs[5]["_id"]))
        assert n == 0 and got["_source"] == docs[5]["_source"]
        got, n = _jobs(spark, group + "-v", lambda: srv.get_doc("v", docs[5]["_id"]))
        assert n > 0 and got["_source"] == docs[9]["_source"]
        _delete_raw(srv.port, "/v")
        _, n = _jobs(spark, group + "-drop", lambda: srv.search("v2", docs[5]["_id"], 50, 5))
        assert n == 0
        code, body = _status(lambda: urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/v/{docs[5]['_id']}"))
        assert code == 404 and body["error"]["type"] == "index_not_found_exception", body
    finally:
        srv.stop()


def test_http_first_read_after_each_mutation_sees_it(spark):
    """Every mutation kind drops the index's snapshot, so the first read
    after it answers from the new state: an immediate index of a new and a
    replaced doc, a single and a bulk delete, a staged batch (invisible)
    and its refresh (visible), a compaction (unchanged) and a drop. Each
    read comes right after a warm one, so a stale snapshot would answer."""
    docs = _sample_docs(spark, n=64)
    srv = _serve(spark, docs[:40])
    base = f"http://127.0.0.1:{srv.port}"

    def found(i):
        try:
            return _http_get(srv.port, f"/idx/{i}")["_source"]
        except urllib.error.HTTPError as e:
            assert e.code == 404
            return None

    def hits(i):
        return [h["_id"] for h in _http_get(srv.port, f"/idx/{i}/_aknn_search?k1=50&k2=40")["hits"]["hits"]]

    try:
        q, new, old = docs[0]["_id"], docs[45]["_id"], docs[3]["_id"]
        # a new doc at q's own vector shares every term with q
        twin = {"_id": new, "_source": docs[0]["_source"]}
        moved = {"_id": old, "_source": docs[50]["_source"]}
        assert found(new) is None and new not in hits(q)
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": [twin, moved]})
        assert found(new) == twin["_source"] and found(old) == docs[50]["_source"]
        assert new in hits(q)
        _delete_raw(srv.port, f"/idx/{new}")
        assert found(new) is None and new not in hits(q)
        doomed = hits(q)[:2]
        _http_post(srv.port, "/_aknn_delete", {"_index": "idx", "ids": doomed})
        assert not set(doomed) & set(hits(q)) and found(doomed[0]) is None
        staged = docs[60]
        _http_post(srv.port, "/_aknn_index",
                   {"model": "m", "_index": "idx", "docs": [staged], "refresh": False})
        assert found(staged["_id"]) is None
        _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})
        assert found(staged["_id"]) == staged["_source"]
        before = hits(q)
        _http_post(srv.port, "/_aknn_compact", {"_index": "idx"})
        assert hits(q) == before
        _delete_raw(srv.port, "/idx")
        code, body = _status(lambda: urllib.request.urlopen(f"{base}/idx/{q}/_aknn_search"))
        assert code == 404 and body["error"]["type"] == "index_not_found_exception", body
    finally:
        srv.stop()


def test_http_delete_all_docs_keeps_index_searchable(spark):
    """Deleting every doc leaves an empty index, not a broken one: search,
    msearch and compact answer 200 with zero hits, a doc GET is a doc-level
    404. After a restart the index keeps its pinned _id type, and a
    re-index serves exactly like the in-memory search."""
    docs = _sample_docs(spark, n=48)
    srv = _serve(spark, docs, batches=2)
    root = srv.root
    empty = {"timed_out": False, "hits": {"total": 0, "hits": []}}
    q = docs[0]["_id"]
    try:
        out = _http_post(srv.port, "/_aknn_delete", {"_index": "idx", "ids": [d["_id"] for d in docs]})
        assert out["deleted"] == len(docs), out
        assert _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5") == empty
        assert _http_post(srv.port, "/idx/_aknn_msearch", {"ids": [q, 7]}) == {
            "responses": [empty, empty]
        }
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/idx/{q}")
            raise AssertionError("a deleted doc must 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
            assert _json.loads(e.read())["found"] is False
        assert _http_post(srv.port, "/_aknn_compact", {"_index": "idx"})["compacted"]
        assert _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5") == empty
    finally:
        srv.stop()
    srv = AknnHttpServer(spark, root).start()
    try:
        assert _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5") == empty
        bad = [{"_id": "s-0", "_source": docs[0]["_source"]}]
        try:
            _post_raw(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": bad})
            raise AssertionError("the emptied index must stay bigint-pinned")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": docs})
        qids = [q, docs[30]["_id"]]
        want = _reference(spark, srv, docs, qids)
        for d in qids:
            assert _http_get(srv.port, f"/idx/{d}/_aknn_search?k1=50&k2=5") == want[d]
    finally:
        srv.stop()


def test_http_refresh_bulk_merge_path_matches_pruned(spark):
    """r13 (ADVICE r12): a refresh that replaces existing ids and adds
    brand-new ones into a populated index — wire responses must equal a
    fresh immediate-mode twin indexed with the final state."""
    docs = _sample_docs(spark, n=96)
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:16]
    ]
    extra = [
        {"_id": 900000 + i,
         "_source": {"_aknn_vector": d["_source"]["_aknn_vector"]}}
        for i, d in enumerate(docs[:8])
    ]
    final = moved + docs[16:] + extra
    srv = _serve(spark, docs, batches=2)
    fresh = _serve(spark, final, batches=2, sample=docs[:24])
    try:
        out = _http_post(
            srv.port,
            "/_aknn_index",
            {"model": "m", "_index": "idx", "docs": moved + extra, "refresh": False},
        )
        assert out["staged"] == len(moved) + len(extra), out
        out = _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})
        assert out["merged"] == len(moved) + len(extra), out
        for q in (docs[0]["_id"], docs[40]["_id"], extra[0]["_id"]):
            a = _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            b = _http_get(fresh.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            assert a == b, (q, a, b)
    finally:
        srv.stop()
        fresh.stop()


def test_http_doc_get_200_404_both_modes(spark):
    """r13 (#163): GET /{index}/{id} returns the stored doc (found: true,
    exact vector round-trip) and 404s an unknown or non-numeric id."""
    docs = _sample_docs(spark, n=48)
    srv = _serve(spark, docs)
    try:
        d = docs[7]
        res = _http_get(srv.port, f"/idx/{d['_id']}")
        assert res["found"] is True and res["_id"] == d["_id"]
        assert res["_source"]["_aknn_vector"] == d["_source"]["_aknn_vector"]
        for missing in ("999999", "zzz"):
            try:
                urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/idx/{missing}")
                raise AssertionError("unknown id must 404")
            except urllib.error.HTTPError as e:
                assert e.code == 404
                assert _json.loads(e.read())["found"] is False
    finally:
        srv.stop()


def test_http_concurrent_mutations_on_different_indexes(spark):
    """r13 (r12 verdict stretch 7): concurrent mutations on DIFFERENT
    indexes — the staging-seq dict, the pin records and the snapshots
    are shared state keyed by index name. Two threads replace/delete on
    their own index while searches hammer both; every response must be
    well-formed and each index must end exactly at its own fresh-twin
    state (no cross-index bleed)."""
    import threading as _threading

    docs = _sample_docs(spark, n=48)
    srv = AknnHttpServer(spark, tempfile.mkdtemp(prefix="enn_http_test_")).start()
    _http_post(srv.port, "/_aknn_create",
               {"_id": "m", "nb_tables": 4, "nb_bits_per_table": 3, "docs": docs[:24]})
    for idx in ("ia", "ib"):
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": idx, "docs": docs})
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:6]
    ]
    doomed_a, doomed_b = docs[9]["_id"], docs[11]["_id"]
    twin_a = _serve(spark, [d for d in (moved + docs[6:]) if d["_id"] != doomed_a],
                    sample=docs[:24])
    twin_b = _serve(spark, [d for d in (moved + docs[6:]) if d["_id"] != doomed_b],
                    sample=docs[:24])
    errors: list = []

    def mutate(idx, doomed):
        try:
            _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": idx, "docs": moved})
            _http_post(srv.port, "/_aknn_delete", {"_index": idx, "ids": [doomed]})
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    try:
        ta = _threading.Thread(target=mutate, args=("ia", doomed_a))
        tb = _threading.Thread(target=mutate, args=("ib", doomed_b))
        ta.start(); tb.start(); ta.join(); tb.join()
        assert not errors, errors
        qid = docs[40]["_id"]
        for idx, twin in (("ia", twin_a), ("ib", twin_b)):
            a = _http_get(srv.port, f"/{idx}/{qid}/_aknn_search?k1=50&k2=5")
            b = _http_get(twin.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            assert a == b, (idx, a, b)
    finally:
        srv.stop(); twin_a.stop(); twin_b.stop()


def test_http_refresh_racing_bulk_stage(spark):
    """r13 (r12 verdict stretch 7): a /_aknn_refresh racing a refresh=false
    stage on the SAME index must linearize — the staged batch lands either
    in that refresh or in the next one, never lost or torn. After the
    final refresh the index equals the fresh twin of all docs."""
    import threading as _threading

    docs = _sample_docs(spark, n=48)
    srv = _serve(spark, docs[:24])
    twin = _serve(spark, docs, sample=docs[:24])
    errors: list = []

    def stage(batch):
        try:
            _http_post(srv.port, "/_aknn_index",
                       {"model": "m", "_index": "idx", "docs": batch, "refresh": False})
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def refresh():
        try:
            _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    try:
        threads = [
            _threading.Thread(target=stage, args=(docs[24:36],)),
            _threading.Thread(target=refresh),
            _threading.Thread(target=stage, args=(docs[36:],)),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})  # drain stragglers
        qid = docs[30]["_id"]
        a = _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
        b = _http_get(twin.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
        assert a == b, (a, b)
    finally:
        srv.stop(); twin.stop()


def test_http_query_string_routes_on_delete_and_post(spark):
    """Every verb routes on the URL path, like GET does: a query string
    (ES clients send ?refresh=true, ?pretty) must not turn a doc DELETE
    into a not-found id, nor a POST into an unknown endpoint — each
    answers what its form without a query string answers."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs[:24])
    try:
        victim = docs[5]["_id"]
        res = _json.loads(_delete_raw(srv.port, f"/idx/{victim}?refresh=true").read())
        assert res == {"_index": "idx", "_id": str(victim), "result": "deleted"}, res
        try:
            _delete_raw(srv.port, f"/idx/{victim}")
            raise AssertionError("the doc deleted with a query string must be gone")
        except urllib.error.HTTPError as e:
            assert e.code == 404

        _http_post(srv.port, "/_aknn_index",
                   {"model": "m", "_index": "idx", "docs": docs[24:], "refresh": False})
        out = _http_post(srv.port, "/_aknn_refresh?pretty", {"_index": "idx"})
        assert out == {"_index": "idx", "refreshed": True, "merged": len(docs[24:])}, out
        assert _http_post(srv.port, "/_aknn_refresh?pretty", {"_index": "idx"}) == _http_post(
            srv.port, "/_aknn_refresh", {"_index": "idx"}
        )

        body = {"ids": [docs[0]["_id"], docs[30]["_id"], victim], "k1": 50, "k2": 5}
        plain = _http_post(srv.port, "/idx/_aknn_msearch", body)
        assert _http_post(srv.port, "/idx/_aknn_msearch?pretty", body) == plain
        assert [r["hits"]["total"] for r in plain["responses"]] == [5, 5, 0], plain
    finally:
        srv.stop()


def _status(call):
    try:
        call()
    except urllib.error.HTTPError as e:
        return e.code, _json.loads(e.read())
    raise AssertionError("expected an HTTP error")


def test_http_msearch_ids_must_be_a_list(spark):
    """msearch `ids` must be a JSON list: a string would be searched char
    by char ("12" answered for docs 1 and 2), so it is a 400."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        for ids in ("12", 12, {"a": 1}):
            code, body = _status(
                lambda: _post_raw(srv.port, "/idx/_aknn_msearch", {"ids": ids, "k1": 50, "k2": 5})
            )
            assert code == 400 and "ids must be a JSON list" in body["error"], (ids, body)
        out = _http_post(srv.port, "/idx/_aknn_msearch", {"ids": ["12"], "k1": 50, "k2": 5})
        assert out["responses"][0]["hits"]["total"] == 5, out
    finally:
        srv.stop()


def test_http_search_k_must_be_positive(spark):
    """k1 and k2 below 1 are a 400 on both GET search and msearch, not a
    200 with zero hits that reads like an unknown doc."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        base = f"http://127.0.0.1:{srv.port}"
        for k1, k2 in ((0, 5), (50, 0), (-1, 5), (50, -3)):
            code, body = _status(
                lambda: urllib.request.urlopen(f"{base}/idx/1/_aknn_search?k1={k1}&k2={k2}")
            )
            assert code == 400 and "must be >= 1" in body["error"], (k1, k2, body)
            code, body = _status(
                lambda: _post_raw(srv.port, "/idx/_aknn_msearch", {"ids": [1], "k1": k1, "k2": k2})
            )
            assert code == 400 and "must be >= 1" in body["error"], (k1, k2, body)
        assert _http_get(srv.port, "/idx/1/_aknn_search?k1=1&k2=1")["hits"]["total"] == 1
    finally:
        srv.stop()


def test_http_mutation_sequence_matches_fresh_index(spark):
    """A seeded interleaving of every mutation — immediate and staged
    index batches (new and replaced ids), refresh, bulk delete and
    single-doc DELETE — must leave the index serving exactly what a fresh
    server indexed once with the final live set answers, for every live
    id and for deleted ones. Staged docs are invisible (and undeletable)
    until a refresh merges them, as in ES."""
    import random

    docs = _sample_docs(spark, n=64)
    rng = random.Random(20261017)
    live = {d["_id"]: d for d in docs[:40]}
    staged: dict = {}
    unused = [d["_id"] for d in docs[40:]]
    by_id = {d["_id"]: d for d in docs}
    deleted: set = set()
    srv = _serve(spark, docs[:40], batches=2)

    def scaled(i, f):
        vec = by_id[i]["_source"]["_aknn_vector"]
        return {"_id": i, "_source": {"_aknn_vector": [f * x for x in vec]}}

    steps = ["index", "index", "stage", "stage", "refresh", "bulk_delete", "delete_one", "refresh"]
    rng.shuffle(steps)
    try:
        for n, step in enumerate(steps):
            if step in ("index", "stage"):
                # half replaced ids (live or deleted), half never-seen ones
                old = rng.sample(sorted(live) + sorted(deleted), 4)
                new = [unused.pop() for _ in range(3)]
                batch = [scaled(i, float(n + 2)) for i in old + new]
                payload = {"model": "m", "_index": "idx", "docs": batch}
                if step == "stage":
                    payload["refresh"] = False
                _http_post(srv.port, "/_aknn_index", payload)
                target = staged if step == "stage" else live
                target.update({d["_id"]: d for d in batch})
                if step == "index":
                    deleted -= set(old)
            elif step == "refresh":
                out = _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})
                assert out["merged"] == len(staged), (step, out)
                live.update(staged)
                deleted -= set(staged)
                staged.clear()
            elif step == "bulk_delete":
                doomed = rng.sample(sorted(live), 5) + [987654]
                out = _http_post(srv.port, "/_aknn_delete", {"_index": "idx", "ids": doomed})
                assert out["deleted"] == 5, out
            else:
                doomed = rng.sample(sorted(live), 1)
                res = _json.loads(_delete_raw(srv.port, f"/idx/{doomed[0]}").read())
                assert res["result"] == "deleted", res
            if step in ("bulk_delete", "delete_one"):
                for i in doomed:
                    if live.pop(i, None) is not None:
                        deleted.add(i)
        final = [live[i] for i in sorted(live)]
        fresh = _serve(spark, final, sample=docs[:24])
        try:
            ids = sorted(live) + sorted(deleted)[:4]
            body = {"ids": ids, "k1": 50, "k2": 5}
            got = _http_post(srv.port, "/idx/_aknn_msearch", body)
            want = _http_post(fresh.port, "/idx/_aknn_msearch", body)
            for i, a, b in zip(ids, got["responses"], want["responses"]):
                assert a == b, (i, a, b)
            assert deleted and all(
                r["hits"]["total"] == 0 for r in got["responses"][len(live):]
            )
        finally:
            fresh.stop()
    finally:
        srv.stop()


def test_http_delete_ids_must_be_a_list(spark):
    """/_aknn_delete `ids` must be a JSON list, like msearch's: a string
    "12" would be deleted char by char (docs 1 and 2 gone, doc 12 kept),
    so it is a 400 that deletes nothing."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        for ids in ("12", 12, {"12": 1}):
            code, body = _status(
                lambda: _post_raw(srv.port, "/_aknn_delete", {"_index": "idx", "ids": ids})
            )
            assert code == 400 and "ids must be a JSON list" in body["error"], (ids, body)
        for i in (1, 2, 12):
            assert _http_get(srv.port, f"/idx/{i}")["found"] is True, i
    finally:
        srv.stop()


def test_http_create_checks_model_shape(spark):
    """/_aknn_create needs nb_tables >= 1 and 1 <= nb_bits_per_table <= 64
    (a table's hash is one int64, so a 65th bit would carry weight 0): a
    shape outside that is a 400 that names the bounds, and both edges are
    accepted."""
    docs = _sample_docs(spark, n=128)
    srv = AknnHttpServer(spark, tempfile.mkdtemp(prefix="enn_http_test_")).start()
    try:
        for tables, bits in ((0, 3), (-1, 3), (4, 0), (1, 65)):
            body = {"_id": "bad", "nb_tables": tables, "nb_bits_per_table": bits, "docs": docs}
            code, out = _status(lambda: _post_raw(srv.port, "/_aknn_create", body))
            assert code == 400 and "nb_bits_per_table in [1, 64]" in out["error"], (tables, bits, out)
        assert _http_get(srv.port, "/_aknn_models")["models"] == []
        for tables, bits in ((1, 64), (1, 1)):
            body = {"_id": f"m{bits}", "nb_tables": tables, "nb_bits_per_table": bits, "docs": docs}
            assert _http_post(srv.port, "/_aknn_create", body)["acknowledged"] is True
    finally:
        srv.stop()


def test_http_served_frames_are_local_relations(spark):
    """The rows a request brings to the driver (a mutation's ids, a posted
    batch) are local relations: no Python-RDD scan, whose broadcast would
    run a job of Python-worker tasks per request."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        for df in (
            srv._ids_df([1, 2], "bigint"),
            srv._docs_df(docs[:3]),
        ):
            plan = plans.formatted_plan(df)
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    finally:
        srv.stop()


def test_http_driver_sort_matches_spark_order(spark):
    """msearch orders its hits on the driver. With duplicated vectors,
    many neighbours tie on distance and the id breaks the tie; GET and
    msearch must equal api.aknn_search's Spark ordering (_reference), on a
    bigint-pinned index and on a string-pinned one whose ids sort
    differently as strings ("15" < "3") and include non-ASCII ids (U+FB01
    sorts before U+1F600 in UTF-8, after it in UTF-16), which GET takes
    percent-encoded."""
    sample = _sample_docs(spark, n=24)
    vec = [d["_source"] for d in sample[:12]]
    int_docs = [{"_id": i, "_source": vec[i % 12]} for i in range(48)]
    str_docs = [{"_id": str(i), "_source": vec[i % 12]} for i in range(48)]
    str_docs += [{"_id": "\ufb01", "_source": vec[3]}, {"_id": "\U0001f600", "_source": vec[3]}]
    srv = _serve(spark, int_docs, sample=sample)
    try:
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "sidx", "docs": str_docs})
        for index, idocs, qids, first, ties in (
            ("idx", int_docs, [15, 3, 7, 40], 15, [3, 27, 39]),
            ("sidx", str_docs, ["27", "\U0001f600", "9", "10"], "27", ["15", "3", "39", "\ufb01", "\U0001f600"]),
        ):
            want = _reference(spark, srv, idocs, qids, 50, 20)
            assert [h["_id"] for h in want[first]["hits"]["hits"]][: len(ties)] == ties, want[first]
            out = _http_post(srv.port, f"/{index}/_aknn_msearch", {"ids": qids, "k1": 50, "k2": 20})
            for q, res in zip(qids, out["responses"]):
                assert res == want[q], (index, q, res)
                got = _http_get(srv.port, f"/{index}/{quote(str(q))}/_aknn_search?k1=50&k2=20")
                assert got == res, (index, q)
    finally:
        srv.stop()


def _jobs(spark, group, call, stages=False):
    """(call(), the number of Spark jobs it ran) under job group `group`;
    with `stages`, the stage count of each job instead of the number."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    if stages:
        return out, [len(sc.statusTracker().getJobInfo(j).stageIds) for j in jobs]
    return out, len(jobs)


def test_http_cached_search_job_budget(spark):
    """A GET search on a warm snapshot runs no Spark job: the term-match
    count, the k1 cut, the exact re-rank and the k2 sort are numpy over
    the driver-held snapshot."""
    docs = _sample_docs(spark)
    srv = _serve(spark, docs, batches=3)
    try:
        qid = docs[7]["_id"]
        srv.search("idx", docs[9]["_id"], 50, 5)  # builds the snapshot
        res, n = _jobs(spark, f"enn-job-budget-{srv.port}", lambda: srv.search("idx", qid, 50, 5))
        assert res["hits"]["total"] == 5
        assert n == 0
    finally:
        srv.stop()


def test_http_cached_msearch_job_budget(spark):
    """A 4-id msearch on a warm snapshot runs no Spark job either."""
    docs = _sample_docs(spark)
    srv = _serve(spark, docs, batches=3)
    try:
        ids = [docs[i]["_id"] for i in (7, 40, 123, 200)]
        srv.search("idx", docs[9]["_id"], 50, 5)  # builds the snapshot
        out, n = _jobs(spark, f"enn-msearch-budget-{srv.port}", lambda: srv.msearch("idx", ids, 50, 5))
        assert [r["hits"]["total"] for r in out["responses"]] == [5, 5, 5, 5]
        assert n == 0
    finally:
        srv.stop()


def test_http_cached_doc_get_job_budget(spark):
    """A doc GET on a warm snapshot runs no Spark job, for a stored and an
    unknown id alike: there is no per-id fetch or doc cache to miss."""
    docs = _sample_docs(spark)
    srv = _serve(spark, docs, batches=3)
    try:
        srv.search("idx", docs[9]["_id"], 50, 5)  # builds the snapshot
        for d, want in ((docs[7]["_id"], docs[7]["_source"]), (99999999, None)):
            got, n = _jobs(spark, f"enn-doc-budget-{srv.port}-{d}", lambda: srv.get_doc("idx", d))
            assert (got and got["_source"]) == want and n == 0, (d, got, n)
    finally:
        srv.stop()


def test_http_bad_batch_values_are_400(spark):
    """A posted batch whose values its column types cannot hold is a 400
    that leaves the store as it was: on a bigint-pinned index a JSON true
    id, mixed int and string ids and an int beyond int64; anywhere, a
    vector component that is not a finite number (msearch sorts distances
    on the driver)."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    vec = docs[0]["_source"]
    nan = {"_aknn_vector": [float("nan")] + vec["_aknn_vector"][1:]}
    try:
        before = _http_get(srv.port, f"/idx/{docs[0]['_id']}/_aknn_search?k1=50&k2=5")
        for batch in (
            [{"_id": True, "_source": vec}],
            [{"_id": 0, "_source": vec}, {"_id": "a", "_source": vec}],
            [{"_id": 2**63, "_source": vec}],
            [{"_id": 0, "_source": {"_aknn_vector": ["x"] + vec["_aknn_vector"][1:]}}],
            [{"_id": 0, "_source": nan}],
        ):
            body = {"model": "m", "_index": "idx", "docs": batch}
            code, _out = _status(lambda: _post_raw(srv.port, "/_aknn_index", body))
            assert code == 400, batch
        after = _http_get(srv.port, f"/idx/{docs[0]['_id']}/_aknn_search?k1=50&k2=5")
        assert after == before
    finally:
        srv.stop()


def test_http_served_reads_have_no_shuffle_or_window(spark):
    """The first read after a mutation rebuilds the snapshot from one read
    of docs/: every job it runs is a single stage, so there is no shuffle
    exchange (which a rank window would need) — and the next read runs no
    job at all."""
    docs = _sample_docs(spark)
    srv = _serve(spark, docs, batches=2)
    try:
        ids = [docs[0]["_id"], docs[7]["_id"]]
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": docs[:4]})
        group = f"enn-rebuild-{srv.port}"
        cold, stages = _jobs(spark, group, lambda: srv.msearch("idx", ids, 50, 5), stages=True)
        assert stages and all(n == 1 for n in stages), stages
        warm, n = _jobs(spark, group + "-warm", lambda: srv.msearch("idx", ids, 50, 5))
        assert warm == cold and n == 0
    finally:
        srv.stop()


def test_http_path_ids_are_percent_decoded(spark):
    """GET search, doc GET and DELETE take a string id percent-encoded, as
    a client must send a space or a non-ASCII char: each answers for the
    decoded id, exactly as msearch does for the same id in a JSON body."""
    sample = _sample_docs(spark, n=32)
    odd = ["a b", "é", "\U0001f600"]
    sdocs = [{"_id": str(d["_id"]), "_source": d["_source"]} for d in sample]
    sdocs += [{"_id": i, "_source": sample[n]["_source"]} for n, i in enumerate(odd)]
    srv = _serve(spark, sdocs, sample=sample[:24])
    try:
        out = _http_post(srv.port, "/idx/_aknn_msearch", {"ids": odd, "k1": 50, "k2": 5})
        for i, res in zip(odd, out["responses"]):
            assert res["hits"]["total"] == 5, (i, res)
            assert _http_get(srv.port, f"/idx/{quote(i)}/_aknn_search?k1=50&k2=5") == res, i
            doc = _http_get(srv.port, f"/idx/{quote(i)}")
            assert doc["found"] is True and doc["_id"] == i, doc
        resp = _json.loads(_delete_raw(srv.port, f"/idx/{quote(odd[0])}").read())
        assert resp == {"_index": "idx", "_id": odd[0], "result": "deleted"}, resp
        code, body = _status(lambda: urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/idx/{quote(odd[0])}"))
        assert code == 404 and body["found"] is False, body
        gone = _http_post(srv.port, "/idx/_aknn_msearch", {"ids": odd[:1], "k1": 50, "k2": 5})
        assert gone["responses"][0]["hits"]["total"] == 0, gone
    finally:
        srv.stop()


def test_http_msearch_k_must_be_json_integers(spark):
    """msearch's k1 and k2 come from a JSON body: a float, a bool, a
    string or null is a 400, not truncated to an int."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        for k in (1.5, 5.0, True, "5", None):
            for body in ({"ids": [1], "k1": k, "k2": 5}, {"ids": [1], "k1": 50, "k2": k}):
                code, out = _status(lambda: _post_raw(srv.port, "/idx/_aknn_msearch", body))
                assert code == 400 and "must be integers" in out["error"], (body, out)
        out = _http_post(srv.port, "/idx/_aknn_msearch", {"ids": [1], "k1": 50, "k2": 5})
        assert out["responses"][0]["hits"]["total"] == 5, out
    finally:
        srv.stop()


def test_http_k1_boundary_ties_match_reference(spark):
    """More than k1 neighbours tie on n_match: four groups of twelve
    near-duplicate vectors (each scaled by its own 1 + c·1e-5, so the
    re-rank distances differ but the hashes agree). The k1 cut must keep
    the smallest ids of the tie, in Spark's order (bigint, or strings
    where "15" < "3"), as api.aknn_search does (_reference); GET and
    msearch must equal it."""
    sample = _sample_docs(spark, n=24)

    def vec(i):
        c = 1.0 + 1e-5 * ((i * 7) % 13 + 1)
        return {"_aknn_vector": [x * c for x in sample[i % 4]["_source"]["_aknn_vector"]]}

    int_docs = [{"_id": i, "_source": vec(i)} for i in range(48)]
    str_docs = [{"_id": str(i), "_source": vec(i)} for i in range(48)]
    srv = _serve(spark, int_docs, sample=sample)
    try:
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "sidx", "docs": str_docs})
        for index, idocs, qids in (
            ("idx", int_docs, [3, 2, 15, 40]),
            ("sidx", str_docs, ["3", "2", "15", "40"]),
        ):
            every = _reference(spark, srv, idocs, qids[:1], 1000, 1000)[qids[0]]["hits"]["hits"]
            n_match = sorted((h["n_match"] for h in every), reverse=True)
            assert n_match[4] == n_match[5], n_match  # the tie crosses k1 = 5
            want = _reference(spark, srv, idocs, qids, 5, 3)
            out = _http_post(srv.port, f"/{index}/_aknn_msearch", {"ids": qids, "k1": 5, "k2": 3})
            for q, res in zip(qids, out["responses"]):
                assert res == want[q], (index, q, res, want[q])
                assert _http_get(srv.port, f"/{index}/{q}/_aknn_search?k1=5&k2=3") == res, (index, q)
        # query 3's tie group is 7, 11, ..., 47: the bigint cut keeps 7 and
        # the string cut does not ("11" < "7"), so the two answers differ
        as_int = _reference(spark, srv, int_docs, [3], 5, 3)[3]["hits"]["hits"]
        as_str = _reference(spark, srv, str_docs, ["3"], 5, 3)["3"]["hits"]["hits"]
        assert [str(h["_id"]) for h in as_int] != [h["_id"] for h in as_str]
    finally:
        srv.stop()


def test_http_mixed_model_index_matches_reference(spark):
    """An index may hold batches hashed by different models. In one
    msearch, a query doc with 4 tables meets term rows of tables 4 and 5
    from the 6-table batch: those must match nothing for it (and raise
    nothing), as in api.aknn_search over the same hashed docs."""
    from pyspark.sql import functions as F

    docs = _sample_docs(spark, n=120)
    srv = _serve(spark, docs[:60])
    try:
        _http_post(
            srv.port,
            "/_aknn_create",
            {"_id": "m6", "nb_tables": 6, "nb_bits_per_table": 3, "docs": docs[60:96]},
        )
        _http_post(srv.port, "/_aknn_index", {"model": "m6", "_index": "idx", "docs": docs[60:]})
        hashed = None
        for model, part in (("m", docs[:60]), ("m6", docs[60:])):
            frame = spark.createDataFrame(
                [(d["_id"], d["_source"]["_aknn_vector"]) for d in part],
                "_id bigint, _aknn_vector array<double>",
            )
            h = aknn_index(frame, srv.registry.get(model))
            hashed = h if hashed is None else hashed.unionByName(h)
        qids = [docs[0]["_id"], docs[70]["_id"], docs[5]["_id"], docs[100]["_id"]]
        rows = aknn_search(hashed, qids, 50, 5).orderBy("query_id", "distance", "neighbor_id").collect()
        out = _http_post(srv.port, "/idx/_aknn_msearch", {"ids": qids, "k1": 50, "k2": 5})
        for q, res in zip(qids, out["responses"]):
            want = [(r.neighbor_id, r.distance, r.n_match) for r in rows if r.query_id == q]
            got = [(h["_id"], h["_score"], h["n_match"]) for h in res["hits"]["hits"]]
            assert got == want and len(got) == 5, (q, got, want)
        assert hashed.select(F.max(F.size("hashes"))).first()[0] == 6
    finally:
        srv.stop()


def test_http_index_pins_vector_dimension(spark):
    """An index's first batch, live or staged, pins its vector dimension,
    as it pins the _id type: a batch from a model of another dimension
    answers 400 on the immediate and the refresh=false path, also after a
    restart, and leaves the store as it was. Unpinned, an 8-d and a 4-d
    batch (T=2, B=1) shared one index, and every search of it then
    answered 400: zip_with padded the shorter vector, so distances were
    null."""
    import numpy as np

    rng = np.random.default_rng(7)

    def batch(ids, dim):
        return [{"_id": i, "_source": {"_aknn_vector": rng.standard_normal(dim).tolist()}} for i in ids]

    d8, d4 = batch(range(100), 8), batch(range(100, 200), 4)

    def refused(srv, before):
        for index in ("idx", "sidx"):
            for refresh in (True, False):
                body = {"model": "m4", "_index": index, "docs": d4, "refresh": refresh}
                code, out = _status(lambda: _post_raw(srv.port, "/_aknn_index", body))
                assert code == 400 and "pins vector dimension 8" in out["error"], (index, out)
        assert [_http_get(srv.port, f"/idx/{i}/_aknn_search") for i in (0, 7)] == before
        code, _out = _status(lambda: urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/idx/100"))
        assert code == 404

    srv = AknnHttpServer(spark, tempfile.mkdtemp(prefix="enn_http_test_")).start()
    try:
        for name, sample in (("m8", d8), ("m4", d4)):
            body = {"_id": name, "nb_tables": 2, "nb_bits_per_table": 1, "docs": sample[:4]}
            _http_post(srv.port, "/_aknn_create", body)
        _http_post(srv.port, "/_aknn_index", {"model": "m8", "_index": "idx", "docs": d8})
        _http_post(srv.port, "/_aknn_index", {"model": "m8", "_index": "sidx", "docs": d8, "refresh": False})
        before = [_http_get(srv.port, f"/idx/{i}/_aknn_search") for i in (0, 7)]
        assert all(r["hits"]["total"] > 0 for r in before), before
        refused(srv, before)
    finally:
        srv.stop()
    # a restarted server reads the pins back from the store and the staging
    srv = AknnHttpServer(spark, srv.root).start()
    try:
        refused(srv, before)
        assert _http_post(srv.port, "/_aknn_refresh", {"_index": "sidx"})["merged"] == len(d8)
        assert _http_get(srv.port, "/sidx/0/_aknn_search") == before[0]
    finally:
        srv.stop()


def test_http_empty_or_non_list_docs_is_400(spark):
    """A batch must be a non-empty JSON list of docs, on the immediate and
    the refresh=false path alike. An empty batch once answered 200
    `indexed: 0` and left a store Spark could not infer a schema from, so
    every later search, msearch and index of that index answered 400
    until a drop. The refused batch leaves the store as it was."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        before = _http_get(srv.port, f"/idx/{docs[0]['_id']}/_aknn_search?k1=50&k2=5")
        for index in ("e", "idx"):
            for batch in ([], {}, "x", None):
                for refresh in (True, False):
                    body = {"model": "m", "_index": index, "docs": batch, "refresh": refresh}
                    code, out = _status(lambda: _post_raw(srv.port, "/_aknn_index", body))
                    assert code == 400 and "docs must be a non-empty JSON list" in out["error"], (body, out)
        assert _http_post(srv.port, "/_aknn_refresh", {"_index": "e"})["merged"] == 0
        code, _out = _status(lambda: urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/e/1"))
        assert code == 404
        assert _http_get(srv.port, f"/idx/{docs[0]['_id']}/_aknn_search?k1=50&k2=5") == before
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "e", "docs": docs})
        assert _http_get(srv.port, f"/e/{docs[0]['_id']}/_aknn_search?k1=50&k2=5") == before
        out = _http_post(srv.port, "/e/_aknn_msearch", {"ids": [docs[0]["_id"]], "k1": 50, "k2": 5})
        assert out["responses"] == [before]
    finally:
        srv.stop()


def test_http_bad_index_name_is_400_everywhere(spark):
    """Every endpoint validates the index name before it builds a path
    from it, the staging and dirty-marker paths included: a name outside
    the alphabet, or one that is only dots, answers 400 and touches
    nothing. "." and ".." once passed, so DELETE /.. dropped the whole
    server root, models included."""
    import os

    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        for bad in ("../../x", "x#dirty", "a b", "", ".", ".."):
            for path, body in (
                ("/_aknn_refresh", {"_index": bad}),
                ("/_aknn_compact", {"_index": bad}),
                ("/_aknn_delete", {"_index": bad, "ids": [1]}),
                ("/_aknn_index", {"model": "m", "_index": bad, "docs": docs[:2]}),
                ("/_aknn_index", {"model": "m", "_index": bad, "docs": docs[:2], "refresh": False}),
            ):
                code, out = _status(lambda: _post_raw(srv.port, path, body))
                assert code == 400 and "bad index name" in out["error"], (path, body, out)
            if bad:
                seg = quote(bad, safe="")
                base = f"http://127.0.0.1:{srv.port}/{seg}"
                for req in (
                    lambda: urllib.request.urlopen(f"{base}/1/_aknn_search"),
                    lambda: urllib.request.urlopen(f"{base}/1"),
                    lambda: _post_raw(srv.port, f"/{seg}/_aknn_msearch", {"ids": [1]}),
                    lambda: _delete_raw(srv.port, f"/{seg}/1"),
                    lambda: _delete_raw(srv.port, f"/{seg}"),
                ):
                    code, out = _status(req)
                    assert code == 400 and "bad index name" in out["error"], (bad, out)
        assert sorted(os.listdir(os.path.join(srv.root, "indexes"))) == ["idx"]
        assert _http_get(srv.port, "/_aknn_models")["models"] == ["m"]
        assert _http_get(srv.port, f"/idx/{docs[0]['_id']}/_aknn_search?k1=50&k2=5")["hits"]["total"] == 5
    finally:
        srv.stop()


def test_http_write_job_budget(spark):
    """An immediate one-doc replace and a one-doc DELETE /{index}/{id} on a
    warm index run a fixed number of Spark jobs: the index's pins are
    held on the driver, so neither write re-reads the store to learn its
    _id type or vector dimension, and only the touched id_bucket
    directory is read and rewritten."""
    docs = _sample_docs(spark)
    srv = _serve(spark, docs, batches=3)
    moved = {"_id": docs[5]["_id"], "_source": docs[9]["_source"]}
    try:
        srv.search("idx", docs[9]["_id"], 50, 5)  # builds the snapshot
        group = f"enn-write-budget-{srv.port}"
        body = {"model": "m", "_index": "idx", "docs": [moved]}
        out, n_index = _jobs(spark, group + "-index", lambda: srv.index(body))
        assert out["indexed"] == 1
        gone, n_delete = _jobs(spark, group + "-delete", lambda: srv.delete_ids("idx", [str(docs[7]["_id"])]))
        assert gone == 1
        assert (n_index, n_delete) == (9, 9), (n_index, n_delete)
        assert srv.get_doc("idx", docs[5]["_id"])["_source"] == docs[9]["_source"]
        assert srv.get_doc("idx", docs[7]["_id"]) is None
    finally:
        srv.stop()
