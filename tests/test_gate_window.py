"""Gate-window placement invariant.

The driver's correctness gate runs EXACTLY the first 50 registry entries
(measured r3/r4/r5: each CORRECTNESS_r0N.json holds 50 keys). Rounds 4 and
5 both lost a round of hard driver signal to comment-vs-reality drift about
where that boundary sat. This test pins the window to a checked-in list so
the drift is structurally impossible: promoting a key above the boundary
without demoting another fails the suite, as does any silent reordering.

Rotation procedure (per registry.py policy): edit registry._QUERIES AND
EXPECTED_GATE_WINDOW below in the same commit, keeping both at exactly 50.
"""

from __future__ import annotations

from elastik_nearest_neighbors_spark import registry

GATE_WINDOW_SIZE = 50

# The r14 window, in driver gate order: (1) the serving keys (server.py
# changed: pruned-read schema cache, clustered appends), (2) every store
# maintenance / persisted-store search key (index_store.py clustered()
# writes + schema-cached loaders), (3) the r13 verdict item-4 list — the
# surfaces r13 changed but never driver-gated (dedup _docs family, LSH
# similarity join, exact-kNN fold removal, family-recall dashboard),
# (4) the CC keys, (5) schema-cached read-path representatives across the
# remaining operator files. Displaced: 12 r13-green keys whose own
# operators r14 left untouched (sq8 trio, boilerplate_scrub, matryoshka,
# decontaminate, seq_pack, source_cap, stratified_sample,
# ann_recall_graph_beam, bm25_doc_search_char, phrase_match).
# Rotation since r14: streaming_index_store in (its store build and
# search_lsh_store moved onto index_store.lsh_terms). Then the two-stage
# re-rank moved into knn.term_match_counts / exact_scores / top_k: all 16
# keys reaching it from outside the window came in (the LSH multiprobe,
# filtered and recall keys, aknn_search_api, aknn_model_registry,
# ann_recall_sweep, the matryoshka and bitsign pairs, ann_recall_graph,
# ann_recall_graph_beam, streaming_ann_search, streaming_graph_search,
# hybrid_search_rrf), and 16 keys whose code none of it reaches went out
# (the dedup trio, dup_clusters, embedding_clusters, ivf_index,
# dedup_semantic, knn_graph, index_stats, pq_codes, ann_search_pq,
# ann_recall_pq, ann_search_ivfpq, ann_recall_ivfpq, knn_graph_multiprobe,
# bm25_doc_search). Then pq.py's ADC top-ANN_K2 cuts moved onto knn.top_k:
# ann_search_pq, ann_recall_pq, ann_search_ivfpq and ann_recall_ivfpq came
# back in, and four keys none of that reaches went out
# (ann_recall_lsh_multiprobe, ann_search_lsh_filtered and the matryoshka
# pair). Then the unstored LSH searches moved onto knn.collision_search:
# its two keys outside the window, ann_search_lsh_filtered and
# ann_recall_lsh_multiprobe, came in, and ann_search_ivfpq and
# ann_recall_ivfpq, which nothing of it reaches, went out. Then, to hold
# the round's changed keys before the round closes, ann_search_ivfpq and
# ann_recall_ivfpq (they reach ivf.probe_pairs; PQ's ADC cut changed) and
# the matryoshka pair (re-rank tail changed; its recall reaches
# knn.knn_exact) came in, and four keys that reach none of ivf.py,
# search.py or knn_exact went out: lsh_index and similarity_join_lsh (LSH
# hashing and the bucket pair join, unchanged this round), ann_search_pq
# and ann_search_bitsign (ann_recall_pq and ann_recall_bitsign stay in
# the window and run them).
EXPECTED_GATE_WINDOW = [
    "aknn_http_search_store",
    "aknn_http_upsert",
    "aknn_http_delete",
    "aknn_http_bulk_ingest",
    "aknn_http_search",
    "aknn_http_doc_get",
    "streaming_index_compact",
    "index_upsert",
    "index_delete",
    "ann_search_lsh_store",
    "ivf_upsert",
    "ivf_delete",
    "ann_search_ivf_store",
    "ivfpq_upsert",
    "ivfpq_delete",
    "ann_search_ivfpq_store",
    "ann_search_graph_store",
    "graph_delete",
    "graph_rebuild",
    "knn_exact_euclidean",
    "ann_recall_families",
    "ann_search_lsh",
    "semantic_doc_search",
    "ann_search_ivf",
    "ann_recall_ivf",
    "ann_search_ivf_filtered",
    "ann_search_ivfpq_refined",
    "ann_recall_ivfpq_refined",
    "ann_search_graph",
    "ann_search_graph_beam",
    "ann_recall_graph_sweep",
    "streaming_index_store",
    "ann_search_lsh_multiprobe",
    "ann_recall",
    "aknn_search_api",
    "aknn_model_registry",
    "ann_recall_sweep",
    "ann_recall_bitsign",
    "ann_recall_graph",
    "ann_recall_graph_beam",
    "streaming_ann_search",
    "streaming_graph_search",
    "hybrid_search_rrf",
    "ann_recall_pq",
    "ann_search_lsh_filtered",
    "ann_recall_lsh_multiprobe",
    "ann_search_ivfpq",
    "ann_recall_ivfpq",
    "ann_search_matryoshka",
    "ann_recall_matryoshka",
]


def test_gate_window_matches_checked_in_list():
    actual = list(registry.queries())[:GATE_WINDOW_SIZE]
    assert actual == EXPECTED_GATE_WINDOW, (
        "registry gate window drifted from the checked-in rotation plan; "
        "update EXPECTED_GATE_WINDOW in the same commit as registry._QUERIES "
        f"(first mismatch: {next((i, a, e) for i, (a, e) in enumerate(zip(actual, EXPECTED_GATE_WINDOW)) if a != e)})"
    )


def test_expected_window_is_exactly_the_gate_size():
    assert len(EXPECTED_GATE_WINDOW) == GATE_WINDOW_SIZE
    assert len(set(EXPECTED_GATE_WINDOW)) == GATE_WINDOW_SIZE


def test_registry_still_covers_every_survey_key():
    # the rotation must reorder, never drop: 163 keys (SURVEY §2), all unique
    ks = list(registry.queries())
    assert len(ks) == 163
    assert len(set(ks)) == 163
