"""Physical-plan contracts: the scale properties each operator is designed
around must be visible in the plan, not just claimed in docstrings."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from elastik_nearest_neighbors_spark import io, plans, sources
from elastik_nearest_neighbors_spark.operators import analytics, ivf, knn
from tests.conftest import SF_SMALL


def test_q6_filters_reach_scan(spark):
    pf = plans.pushed_filters(analytics.q6_revenue_delta(spark, SF_SMALL))
    s = " ".join(pf)
    assert "l_shipdate" in s and "l_discount" in s and "l_quantity" in s, pf


def test_q3_broadcasts_hinted_dim_only(spark):
    # With size-based broadcasts disabled, only HINTED broadcasts remain in
    # the plan — this asserts the operator hints customer (a real dim) and
    # does NOT hint orders (a date-filtered fact that grows with scale; at
    # test size Catalyst would happily broadcast it on stats, which is fine
    # adaptively but must not be forced).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = analytics.q3_shipping_priority(spark, SF_SMALL)
        plan = plans.formatted_plan(df)
        # formatted explain names each node twice (tree + details): exactly
        # one BroadcastHashJoin node == 2 string hits
        assert plans.broadcast_join_count(df) == 2, plan
        assert "c_custkey" in plan
        # the fact join shuffles on orderkey
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _executed(spark, call):
    """(call(), the stage count of each Spark job it ran, the formatted
    physical plan of each SQL execution it ran), read from the
    SparkContext's status tracker and the SQL status store."""
    import uuid

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    seen = {e.executionId() for e in _executions(store)}
    group = f"enn-executed-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    bus.waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = [len(tracker.getJobInfo(j).stageIds) for j in tracker.getJobIdsForGroup(group)]
    ran = [e.physicalPlanDescription() for e in _executions(store) if e.executionId() not in seen]
    return out, stages, ran


def _executions(store) -> list:
    """The SQL executions the status store still holds (its newest 1000)."""
    seq = store.executionsList()
    return [seq.apply(i) for i in range(seq.size())]


def _pushed(plan: str) -> list[str]:
    return [f.strip() for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) for f in m.split(",") if f.strip()]


def test_aknn_search_job_budget(spark, tmp_path):
    """api.aknn_search over a stored index (the reference's and batch_ann's
    shape) is knn.collision_search: exactly 2 Spark jobs of one stage each
    (the query rows' Arrow collect, then one mapInArrow pass over the
    index), so there is no shuffle, and no BroadcastExchange carries the
    corpus vectors — no exchange of any kind runs. The answer is an Arrow
    local relation: reading it runs no job."""
    from elastik_nearest_neighbors_spark import api

    emb = io.table(spark, SF_SMALL, "embeddings")
    docs = emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_aknn_vector"))
    api.aknn_index(docs, knn._model_for(emb, SF_SMALL)).write.parquet(str(tmp_path / "index"))
    indexed = spark.read.parquet(str(tmp_path / "index"))
    out, stages, ran = _executed(spark, lambda: api.aknn_search(indexed, range(8), 100, 10))
    assert stages == [1, 1], (stages, ran)
    assert len(ran) == 2 and not [p for p in ran if "Exchange" in p], ran
    assert "MapInArrow" in ran[1] and "_aknn_vector" in ran[1], ran
    rows, stages, _ = _executed(spark, out.collect)
    assert stages == [] and {r.query_id for r in rows} == set(range(8))


def test_written_index_reads_back_on_every_task(spark, tmp_path):
    """session.configure bounds the parquet row groups a session writes,
    and parquet splits only at row-group edges, so an index written from a
    one-row-group source of 20k x 64 vectors reads back with rows in every
    partition the planner cuts from its data file. The same write with the
    bound at parquet-mr's 128 MiB default leaves one partition holding
    every row. aknn_search answers bit-equal over both layouts, in the same
    2 jobs and no exchange. (Spark's write task 0 leaves a header-only part
    file when its input split was empty; the partition that reads it alone
    holds no rows.)"""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elastik_nearest_neighbors_spark import api

    n, dim = 20_000, 64
    vecs = np.random.default_rng(13).standard_normal((n, dim))
    src = str(tmp_path / "src.parquet")
    vec_col = pa.ListArray.from_arrays(np.arange(0, n * dim + 1, dim, dtype=np.int32), vecs.ravel())
    pq.write_table(pa.table({"_id": np.arange(n), "_aknn_vector": vec_col}), src, row_group_size=n)
    docs = spark.read.parquet(src)
    model = api.aknn_create(docs)

    def write_index(name):
        """(the index read back, rows per read partition, header-only files)"""
        path = str(tmp_path / name)
        api.aknn_index(docs, model).write.parquet(path)
        files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
        indexed = spark.read.parquet(path)
        counts = indexed.select("_id").rdd.mapPartitions(lambda rows: [sum(1 for _ in rows)]).collect()
        return indexed, counts, sum(pq.ParquetFile(f).metadata.num_rows == 0 for f in files)

    bounded, counts, headers = write_index("bounded")
    prev = spark.conf.get("parquet.block.size", None)
    spark.conf.set("parquet.block.size", str(128 << 20))
    try:
        one_group, one_counts, one_headers = write_index("one_group")
    finally:
        if prev is None:
            spark.conf.unset("parquet.block.size")
        else:
            spark.conf.set("parquet.block.size", prev)
    assert len(counts) - headers > 1 and counts.count(0) <= headers and sum(counts) == n, (counts, headers)
    assert len(one_counts) - one_headers > 1 and sum(c > 0 for c in one_counts) == 1, (one_counts, one_headers)

    ids = list(range(0, n, n // 16))
    want = sorted(map(tuple, api.aknn_search(one_group, ids, 100, 10).collect()))
    out, stages, ran = _executed(spark, lambda: api.aknn_search(bounded, ids, 100, 10))
    assert stages == [1, 1] and len(ran) == 2 and not [p for p in ran if "Exchange" in p], (stages, ran)
    assert sorted(map(tuple, out.collect())) == want and {r[0] for r in want} == set(ids)


def test_ann_search_broadcasts_query_side(spark):
    """knn.ann_search_lsh ships the query side to every index task and
    never moves the index: the query rows (hashed by the model) come to the
    driver in one Arrow collect and ride in the mapInArrow closure, so the
    one pass over the index holds no join and no exchange."""
    from elastik_nearest_neighbors_spark.operators.lsh import LshModel

    emb = io.table(spark, SF_SMALL, "embeddings")
    model = LshModel.fit_df(emb)
    out, stages, ran = _executed(spark, lambda: knn.ann_search_lsh(emb, emb.where(F.col("vec_id") < 8), model))
    assert stages == [1, 1] and len(ran) == 2, (stages, ran)
    query_side, index_side = ran
    assert any("vec_id" in f for f in _pushed(query_side)), query_side
    assert not _pushed(index_side) and "MapInArrow" in index_side, index_side
    assert not re.search("Join|Exchange", index_side), index_side
    assert {r.query_id for r in out.collect()} == set(range(8))


def _two_stage_searches():
    """name → (search, the column that holds its corpus vectors)."""
    from elastik_nearest_neighbors_spark import api
    from elastik_nearest_neighbors_spark.operators import graph, pq

    return {
        "aknn_search": (api.aknn_search_api, "_aknn_vector"),
        "ann_search_lsh": (knn.ann_search_lsh_q, "embedding"),
        "ann_search_ivf": (ivf.ann_search_ivf_q, "nv"),
        "ann_search_ivfpq_refined": (pq.ann_search_ivfpq_refined, "nv"),
        "ann_search_bitsign": (pq.ann_search_bitsign, "nv"),
        "ann_search_matryoshka": (knn.ann_search_matryoshka, "nv"),
        "ann_search_graph": (graph.ann_search_graph_q, "nv"),
        "ann_recall_sweep": (knn.ann_recall_sweep, "nv"),
    }


@pytest.mark.parametrize("name", list(_two_stage_searches()))
def test_rerank_gather_never_broadcasts_corpus_vectors(spark, name):
    """Every two-stage search streams the corpus vectors past its
    candidates. No BroadcastExchange of any plan it executes may carry
    them: broadcasting the corpus is what Catalyst picks on stats alone,
    because bench-scale parquet looks tiny. The exact re-rank
    (knn.exact_scores, corpus vectors `nv`) broadcasts the candidate list;
    the LSH searches (knn.collision_search) run one mapInArrow pass over
    the index and broadcast nothing."""
    search, vec = _two_stage_searches()[name]
    _, _, ran = _executed(spark, lambda: search(spark, SF_SMALL).collect())
    plan = "\n".join(ran)  # each execution's final adaptive plan
    inputs = re.findall(r"\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert re.search(rf"\b{vec}#", plan), plan
    assert inputs if vec == "nv" else "MapInArrow" in plan, plan
    assert not [i for i in inputs if re.search(rf"\b{vec}#", i)], plan


def test_lsh_index_store_partition_prunes(spark, tmp_path):
    from elastik_nearest_neighbors_spark.operators import knn as knn_ops

    path = str(tmp_path / "lsh_idx")
    exploded = knn_ops.lsh_index(spark, SF_SMALL)
    sources.save_lsh_index(exploded, path)
    row = exploded.limit(1).collect()[0]
    one = sources.load_lsh_bucket(spark, path, row.tbl, row.hash)
    assert plans.partition_filters(one), plans.formatted_plan(one)
    # pruned read returns exactly the full-scan answer
    expect = exploded.where((F.col("tbl") == row.tbl) & (F.col("hash") == row.hash)).count()
    assert one.count() == expect > 0


def test_lsh_store_search_partition_prunes_and_matches(spark):
    from elastik_nearest_neighbors_spark.operators import knn as knn_ops

    df = knn_ops.ann_search_lsh_store(spark, SF_SMALL)
    # the store read must carry literal (tbl, bucket) PartitionFilters
    assert plans.partition_filters(df), plans.formatted_plan(df)
    # and the pruned path returns exactly the in-memory search's answer
    expect = knn_ops.ann_search_lsh_q(spark, SF_SMALL)
    assert df.exceptAll(expect).count() == 0 and expect.exceptAll(df).count() == 0


def test_graph_store_search_partition_prunes_and_matches(spark):
    from elastik_nearest_neighbors_spark.operators import graph

    df = graph.ann_search_graph_store(spark, SF_SMALL)
    # the persisted edge read must carry literal bucket PartitionFilters
    assert plans.partition_filters(df), plans.formatted_plan(df)
    # and the pruned path returns exactly the in-memory search's answer
    expect = graph.ann_search_graph_q(spark, SF_SMALL)
    assert df.exceptAll(expect).count() == 0 and expect.exceptAll(df).count() == 0


def test_ivfpq_store_search_partition_prunes_and_matches(spark):
    from elastik_nearest_neighbors_spark.operators import pq as pq_ops

    df = pq_ops.ann_search_ivfpq_store(spark, SF_SMALL)
    # the persisted code read must carry literal list_id PartitionFilters,
    # and the scan must read codes only — never the embedding column
    assert plans.partition_filters(df), plans.formatted_plan(df)
    # and the pruned store path returns exactly the in-memory IVFPQ answer
    expect = pq_ops.ann_search_ivfpq(spark, SF_SMALL)
    assert df.exceptAll(expect).count() == 0 and expect.exceptAll(df).count() == 0


def test_maintenance_search_paths_partition_prune(spark):
    """r10 (#153-#155): the patched-store searches keep the same pruned
    plan as their read-only store siblings — a delete/upsert must not
    silently degrade serving to a full store scan."""
    from elastik_nearest_neighbors_spark.operators import graph
    from elastik_nearest_neighbors_spark.operators import pq as pq_ops

    for fn in (pq_ops.ivfpq_delete, pq_ops.ivfpq_upsert, graph.graph_delete, graph.graph_rebuild):
        df = fn(spark, SF_SMALL)
        assert plans.partition_filters(df), (fn.__name__, plans.formatted_plan(df))


def test_ivf_index_store_partition_prunes(spark, tmp_path):
    path = str(tmp_path / "ivf_idx")
    assigned = ivf.ivf_index(spark, SF_SMALL)
    sources.save_ivf_index(assigned, path)
    probes = [0, 1, 2, 3]
    sub = sources.load_ivf_lists(spark, path, probes)
    assert plans.partition_filters(sub), plans.formatted_plan(sub)
    assert sub.count() == assigned.where(F.col("list_id").isin(probes)).count() > 0


def test_knn_exact_has_no_cartesian_shuffle(spark):
    # the Q×N score pass must stay narrow: query side broadcast, partial
    # top-k before the only shuffle (the final per-query window)
    emb = io.table(spark, SF_SMALL, "embeddings")
    df = knn.knn_exact(emb, emb.where(F.col("vec_id") < 8))
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the != self-match predicate makes this a broadcast NESTED-LOOP join —
    # still the right shape: tiny query side broadcast, index never shuffles
    assert "BroadcastNestedLoopJoin" in plan or plans.broadcast_join_count(df) >= 1, plan


def test_q5_dims_broadcast_facts_shuffle_once(spark):
    df = analytics.q5_local_supplier_volume(spark, SF_SMALL)
    # every dim join broadcasts; the only exchanges are the fact join on
    # orderkey and the final aggregation
    assert plans.broadcast_join_count(df) >= 3, plans.formatted_plan(df)
    assert plans.shuffle_count(df) <= 3, plans.formatted_plan(df)


def test_minhash_partial_aggregates_map_side(spark):
    from elastik_nearest_neighbors_spark.operators import dedup

    plan = plans.formatted_plan(dedup.minhash_signatures(spark, SF_SMALL))
    # the shuffle must carry O(docs·K) partial mins, not O(shingles) rows
    assert plan.count("partial_min") >= 16, plan


def test_doc_chunk_is_narrow(spark):
    from elastik_nearest_neighbors_spark.operators import textops

    plan = plans.formatted_plan(textops.doc_chunk(spark, SF_SMALL))
    # no keyed shuffle at all — the only Exchange allowed is the small-file
    # widen round-robin (a no-op at scale; see io.table)
    assert "hashpartitioning" not in plan, plan


def test_q4_uses_semi_join(spark):
    plan = plans.formatted_plan(analytics.q4_order_priority(spark, SF_SMALL))
    assert "LeftSemi" in plan, plan


def test_asof_join_single_user_shuffle(spark):
    df = analytics.events_asof_join(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    # union + carry-forward: no join node at all, one window shuffle on user_id
    assert "Join" not in plan, plan


def test_q10_joins_customer_after_aggregation(spark):
    # the customer dim must join the aggregated per-custkey rows, not the
    # fact rows: the BroadcastHashJoin has to sit ABOVE the HashAggregate
    # in the plan tree (details section lists children before parents)
    df = analytics.q10_returned_revenue(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    tree = plan.split("\n\n")[0]
    agg_line = min(i for i, l in enumerate(tree.splitlines()) if "HashAggregate" in l)
    join_line = min(i for i, l in enumerate(tree.splitlines()) if "BroadcastHashJoin" in l)
    assert join_line < agg_line, tree  # tree prints top-down: join above agg


def test_q18_aggregates_before_join(spark):
    df = analytics.q18_large_orders(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    first_join = min(i for i, l in enumerate(lines) if "Join" in l)
    # at least one HashAggregate below (after) the first join in top-down
    # print order = the quantity aggregation runs before the join
    assert any("HashAggregate" in l for l in lines[first_join:]), tree


def test_events_funnel_single_shuffle_no_join(spark):
    df = analytics.events_funnel(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert "Join" not in plan, plan


def test_dup_clusters_transitive(spark):
    """dedup_minhash_canonical is single-hop; dup_clusters must close chains:
    every edge's two endpoints end in the same cluster, and clusters are
    closed under the canonical map."""
    from elastik_nearest_neighbors_spark.operators import dedup

    labels = {r.doc_id: r.cluster_id for r in dedup.dup_clusters(spark, SF_SMALL).collect()}
    pairs = dedup.dedup_minhash_lsh(spark, SF_SMALL).collect()
    assert pairs, "no near-dup pairs at this SF — test proves nothing"
    for r in pairs:
        assert labels[r.doc_a] == labels[r.doc_b]
    # cluster ids are fixpoints: label(label(v)) == label(v)
    assert all(labels[c] == c for c in set(labels.values()))


def test_q19_broadcasts_part_no_fact_shuffle(spark):
    """q19: part (brand-prefiltered dim) broadcasts; the lineitem side goes
    scan → broadcast join → 1-row aggregate with no fact exchange besides
    the final single-partition reduce."""
    df = analytics.q19_disjunctive_revenue(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert plans.broadcast_join_count(df) >= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_q13_aggregates_orders_before_join(spark):
    """q13: orders reduce to per-custkey counts BEFORE the customer join —
    a HashAggregate must appear below the join in the plan tree."""
    df = analytics.q13_customer_distribution(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    first_join = next(i for i, l in enumerate(lines) if "Join" in l)
    assert any("HashAggregate" in l for l in lines[first_join:]), tree


def test_sales_rollup_single_scan(spark):
    """rollup = grouping-sets expansion inside ONE aggregation over ONE scan
    (no union of per-granularity scans)."""
    df = analytics.sales_rollup(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    # formatted explain names each node twice (tree line + details section)
    assert plan.count("Scan parquet") == 2, plan
    assert "Expand" in plan and "Union" not in plan, plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """decontaminate: the benchmark gram set broadcasts into the corpus gram
    stream — the corpus side must not shuffle for the join."""
    from elastik_nearest_neighbors_spark.operators import textops

    df = textops.decontaminate(spark, SF_SMALL)
    assert plans.broadcast_join_count(df) >= 1, plans.formatted_plan(df)


def test_dedup_semantic_pairs_match_brute_force_within_list(spark):
    """Within-list pair generation is exact: every brute-force cosine≥τ pair
    whose endpoints share an IVF list appears in the output."""
    from elastik_nearest_neighbors_spark.constants import SEMDEDUP_TAU
    from elastik_nearest_neighbors_spark.functions.vector import as_double, cosine
    from elastik_nearest_neighbors_spark.operators import ivf as ivf_ops
    from elastik_nearest_neighbors_spark.operators.graph import graph_model_for

    got = {
        (r.vec_a, r.vec_b)
        for r in ivf_ops.dedup_semantic(spark, SF_SMALL).collect()
    }
    assigned = ivf_ops.build_ivf_index(
        io.table(spark, SF_SMALL, "embeddings"), graph_model_for(SF_SMALL)
    ).select("vec_id", "list_id")
    emb = io.table(spark, SF_SMALL, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    a = assigned.join(emb, "vec_id").select(
        F.col("vec_id").alias("vec_a"), F.col("list_id"), F.col("v").alias("va")
    )
    b = assigned.join(emb, "vec_id").select(
        F.col("vec_id").alias("vec_b"), F.col("list_id"), F.col("v").alias("vb")
    )
    brute = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, "list_id")
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(F.round(cosine(F.col("va"), F.col("vb")), 6) >= SEMDEDUP_TAU)
        .collect()
    }
    assert got == brute


def test_range_search_no_keyed_shuffle(spark):
    """range_search is scan → broadcast NLJ → filter: no ranking, so no
    keyed Exchange may appear anywhere in the plan."""
    from elastik_nearest_neighbors_spark.operators import knn as knn_ops

    df = knn_ops.range_search_q(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert "hashpartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_knn_graph_degree_and_shape(spark):
    """knn_graph: per-vector out-degree ≤ K, no cartesian product (the pair
    step is a hash join on list_id)."""
    from elastik_nearest_neighbors_spark.constants import KNN_GRAPH_K
    from elastik_nearest_neighbors_spark.operators import ivf as ivf_ops

    df = ivf_ops.knn_graph(spark, SF_SMALL)
    assert "CartesianProduct" not in plans.formatted_plan(df)
    deg = df.groupBy("vec_a").count().agg(F.max("count")).collect()[0][0]
    assert deg <= KNN_GRAPH_K
    # every vector with ≥1 co-listed neighbor appears
    assert df.select("vec_a").distinct().count() > 0


def test_sq8_codes_bounded_and_reconstruction_tight(spark):
    """sq8: codes within [0, 255]; reconstruction error within half a
    quantization step of the per-dim range."""
    from elastik_nearest_neighbors_spark.constants import SQ8_LEVELS
    from elastik_nearest_neighbors_spark.operators import pq as pq_ops

    df = pq_ops.sq8_quantize(spark, SF_SMALL)
    row = df.agg(
        F.min("code").alias("lo"),
        F.max("code").alias("hi"),
        F.max(F.abs("err_micros")).alias("e"),
    ).collect()[0]
    assert 0 <= row.lo and row.hi <= SQ8_LEVELS
    # half-step bound: per-dim ranges here are ~2.2 → step ≈ 0.0086 = 8600 µ
    assert row.e <= 20_000


def test_source_mix_corpus_never_shuffles_for_rates(spark):
    """source_mix: the per-source rates join must broadcast — the corpus
    scan-filter path carries no sort-merge join."""
    from elastik_nearest_neighbors_spark.operators import textops

    df = textops.source_mix(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert plans.broadcast_join_count(df) >= 1, plan


def test_rolling_7d_single_exchange(spark):
    """events_rolling_7d: one user-keyed exchange feeds the RANGE window —
    no joins, no second shuffle."""
    from elastik_nearest_neighbors_spark.operators import analytics

    df = analytics.events_rolling_7d(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    # one Exchange node (formatted plans name each node twice: tree + detail)
    assert plans.shuffle_count(df) <= 2, plan
    assert plan.count("+- Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_semantic_doc_search_doc_join_is_broadcast(spark):
    """semantic_doc_search: the final metadata join must broadcast the
    Q·k answer against the documents scan, never sort-merge it."""
    from elastik_nearest_neighbors_spark.operators import knn as knn_ops

    df = knn_ops.semantic_doc_search(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    # the search ran eagerly (knn.collision_search), so the one join left
    # is the documents join (tree + details = 2 hits), and it builds on
    # the answer's LocalTableScan
    assert plans.broadcast_join_count(df) == 2, plan
    build = r"BroadcastHashJoin Inner BuildLeft \(\d+\)\n\s+:- BroadcastExchange \(\d+\)\n\s+:\s+\+- LocalTableScan"
    assert re.search(build, plan), plan


def test_curate_full_gates_are_broadcast(spark):
    """corpus_curate_full: repetition/contamination drop-lists and the
    benchmark gram set must apply as broadcast joins — the corpus side must
    never sort-merge for a gate."""
    from elastik_nearest_neighbors_spark.operators import textops

    df = textops.corpus_curate_full(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert plans.broadcast_join_count(df) >= 3, plan


def test_compacted_store_one_file_per_dir(spark):
    """streaming_index_compact: after compaction every (tbl, bucket)
    directory holds exactly one parquet file — the open/footer-cost
    invariant the pruned search path assumes."""
    import os

    from elastik_nearest_neighbors_spark import io as enn_io
    from elastik_nearest_neighbors_spark.streaming.ingest import streaming_index_compact

    df = streaming_index_compact(spark, SF_SMALL)
    assert df.count() > 0
    root = os.path.join(enn_io.scratch_dir("lsh_stream_store_compact", SF_SMALL), "data")
    for tbl_dir in os.listdir(root):
        if not tbl_dir.startswith("tbl="):
            continue
        for bucket_dir in os.listdir(os.path.join(root, tbl_dir)):
            files = [
                f
                for f in os.listdir(os.path.join(root, tbl_dir, bucket_dir))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (tbl_dir, bucket_dir, files)


def test_ivfpq_reads_codes_not_vectors(spark):
    """IVFPQ: the ranking side must join codes, never gather raw embedding
    arrays — at scale this is the 128× scan saving. The plan should show no
    scan of the embedding column on the candidate/ranking path beyond the
    KB-sized query side."""
    from elastik_nearest_neighbors_spark.operators import pq as pq_ops

    df = pq_ops.ann_search_ivfpq(spark, SF_SMALL)
    assert plans.broadcast_join_count(df) >= 2  # probes + distance table
    assert "CartesianProduct" not in plans.formatted_plan(df)


def test_bm25_corpus_path_is_join_free(spark):
    """BM25: the query side is folded into literal token→idf maps, so the
    scoring path over the corpus must contain NO join of any kind (the
    74M-row term-match of the first cut) and no cartesian — the only
    exchanges are the final top-k's."""
    from elastik_nearest_neighbors_spark.operators import search as s

    df = s.bm25_doc_search(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    for op in ("Join", "CartesianProduct"):
        assert op not in plan, op


def test_filtered_ann_pushes_label_to_scan(spark):
    """Filtered ANN: the metadata predicate must reach the index-side
    parquet scan (pre-filtering at candidate generation), not sit above the
    term-match join as a post-filter."""
    from elastik_nearest_neighbors_spark.operators import knn as knn_ops

    _, _, ran = _executed(spark, lambda: knn_ops.ann_search_lsh_filtered(spark, SF_SMALL))
    index_side = [p for p in ran if any("label" in f for f in _pushed(p))]
    assert index_side, ran
    # and candidate generation is one narrow collision-count pass over the
    # filtered scan: no join, no exchange
    assert not [p for p in index_side if "Join" in p or "Exchange" in p], index_side
    assert all("MapInArrow" in p for p in index_side), index_side


def test_q17_part_and_threshold_broadcast(spark):
    """q17: both the brand part filter and the per-part avg-qty threshold
    broadcast — the fact side must never sort-merge."""
    df = analytics.q17_small_quantity_revenue(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert plans.broadcast_join_count(df) >= 2, plan


def test_q22_uses_anti_join(spark):
    plan = plans.formatted_plan(analytics.q22_dormant_customers(spark, SF_SMALL))
    assert "LeftAnti" in plan, plan


def test_q8_dims_broadcast_facts_shuffle_once(spark):
    df = analytics.q8_market_share(spark, SF_SMALL)
    assert plans.broadcast_join_count(df) >= 2, plans.formatted_plan(df)
    assert plans.shuffle_count(df) <= 3, plans.formatted_plan(df)


def test_events_sliding_window_partial_agg(spark):
    """The 4×-window expansion must sit below a partial aggregation, so the
    shuffle carries (window, partial) rows — not 4× the events."""
    df = analytics.events_sliding_window(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert "partial" in plan, plan


def test_events_user_ltv_prefix_sums_close(spark):
    """The last running value per user equals the user's total (decimal
    prefix sums are consistent with the global aggregate)."""
    from pyspark.sql.window import Window

    df = analytics.events_user_ltv(spark, SF_SMALL)
    last = df.groupBy("user_id").agg(F.max("cum_value").alias("got"))
    ev = io.table(spark, SF_SMALL, "events")
    tot = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("want")
    )
    bad = last.join(tot, "user_id").where(
        F.abs(F.col("got") - F.col("want")) > 1e-6
    )
    assert bad.count() == 0


def test_lang_confusion_totals(spark):
    from elastik_nearest_neighbors_spark.operators import textops

    df = textops.lang_confusion(spark, SF_SMALL)
    n = df.agg(F.sum("n_docs")).collect()[0][0]
    assert n == io.table(spark, SF_SMALL, "documents").count()


def test_bucketed_join_no_orderkey_exchange(spark):
    """The whole point of the bucketed layout: both scans come up bucketed
    and the forced sort-merge join runs with no exchange on the join key —
    the only Exchange in the plan is the final priority aggregate."""
    df = analytics.bucketed_join_revenue(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2, plan
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan


def test_q21_single_lineitem_scan(spark):
    """The classic Q21 is a triple lineitem self-join; the aggregate
    formulation must touch lineitem exactly once."""
    import re

    df = analytics.q21_waiting_supplier(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan


def test_seq_pack_single_shard_exchange(spark):
    """Packing must parallelize: exactly one exchange, keyed on the shard —
    a global-order cumsum (single partition) would show an extra sort-only
    Exchange with no hashpartitioning(shard...)."""
    from elastik_nearest_neighbors_spark.operators import textops

    df = textops.seq_pack(spark, SF_SMALL)
    assert plans.shuffle_count(df) == 2  # one Exchange (tree + detail line)
    assert "hashpartitioning(shard" in plans.formatted_plan(df)


def test_seq_pack_offsets_consistent(spark):
    """Within a shard, each doc's cumsum-derived start equals the previous
    doc's start + its tokens (the packed stream has no gaps or overlaps)."""
    from pyspark.sql.window import Window

    from elastik_nearest_neighbors_spark.constants import PACK_LEN
    from elastik_nearest_neighbors_spark.operators import textops

    df = textops.seq_pack(spark, SF_SMALL)
    start = (F.col("seq_first").cast("bigint") * PACK_LEN + F.col("seq_offset"))
    w = Window.partitionBy("shard").orderBy("doc_id")
    chk = df.select(
        "shard",
        "doc_id",
        start.alias("start"),
        (start + F.col("n_tokens")).alias("end"),
    ).withColumn("prev_end", F.lag("end").over(w))
    bad = chk.where(
        F.col("prev_end").isNotNull() & (F.col("start") != F.col("prev_end"))
    )
    assert bad.count() == 0


def test_corpus_to_sequences_single_scan(spark):
    """The composed clean→pack pipeline must stay one documents scan with
    exactly the two keyed exchanges (dedup window + shard window) plus the
    widen repartition — a naive compose would rescan per stage."""
    import re

    from elastik_nearest_neighbors_spark.operators import textops

    df = textops.corpus_to_sequences(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    assert len(re.findall(r"documents\.parquet", plan)) == 1, plan
    assert plan.count("hashpartitioning(") <= 4  # 2 keyed exchanges × 2 mentions


def test_source_cap_single_exchange_and_bound(spark):
    from elastik_nearest_neighbors_spark.constants import SOURCE_CAP
    from elastik_nearest_neighbors_spark.operators import textops

    df = textops.source_cap(spark, SF_SMALL)
    assert plans.shuffle_count(df) == 2  # one Exchange: hash by source
    per_src = df.groupBy("source").count()
    assert per_src.agg(F.max("count")).collect()[0][0] <= SOURCE_CAP


def test_bm25_join_path_broadcasts_query_terms(spark):
    """The large-Q BM25 path must broadcast the query-term relation (the
    corpus postings never shuffle to meet the queries) and keep exactly
    one aggregation exchange — on the matched (query, doc) pairs."""
    from elastik_nearest_neighbors_spark.operators import search as s

    docs = s._docs(spark, SF_SMALL)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = s.bm25_scores(docs, max_literal_q=0)  # force the join path
        plan = plans.formatted_plan(df)
        assert plans.broadcast_join_count(df) >= 1, plan
        assert "SortMergeJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_phrase_join_path_is_broadcast_nlj(spark):
    """Above the literal threshold the phrase predicate rides a
    BroadcastNestedLoopJoin — O(1) plan size in Q, corpus streamed once,
    never a cartesian shuffle."""
    from elastik_nearest_neighbors_spark.operators import search as s

    df = s.phrase_match_impl(spark, SF_SMALL, max_literal_q=0)
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q2_broadcasts_part_below_aggregate(spark):
    """q2 (r9 fix): the broadcast part filter and the region-supplier
    semi-join must execute UNDER the (partkey, suppkey) MIN aggregation —
    in top-down print order the deepest BroadcastHashJoin sits below every
    HashAggregate, so the one real shuffle carries only the pruned pairs."""
    df = analytics.q2_min_cost_supplier(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    agg_lines = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    bj_lines = [i for i, l in enumerate(lines) if "BroadcastHashJoin" in l]
    assert agg_lines and bj_lines, tree
    assert max(bj_lines) > max(agg_lines), tree  # a broadcast join below ALL aggs
    assert any("LeftSemi" in l for l in lines), tree  # supplier prune is a semi-join
    assert "SortMergeJoin" not in plan, plan


def test_q20_merge_join_reuses_aggregation_partitioning(spark):
    """q20 (r9 plan audit): the avail-vs-shipped join of the two
    (partkey, suppkey) aggregates must REUSE their aggregation
    partitioning — a SortMergeJoin fed by Sort directly over each final
    HashAggregate, with no extra Exchange between aggregate and join.
    Non-broadcast exchanges in the whole plan: exactly the two partial→
    final aggregation shuffles plus the KB-sized candidate distinct."""
    df = analytics.q20_potential_promotion(spark, SF_SMALL)
    plan = plans.formatted_plan(df)
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" in tree, tree
    shuffles = sum(
        1 for l in tree.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l
    )
    assert shuffles == 3, tree


def test_hash_udfs_not_duplicated_by_filter_pushdown(spark):
    """r13 optimization (guide §4.4): explode over an array-returning Arrow
    UDF used to evaluate the UDF TWICE per side — Catalyst inferred a
    size()>0 filter from the Generate and pushed it below the widen
    repartition, duplicating the (deterministic) UDF onto the 1-task
    pre-repartition scan. The UDF factories are non-deterministic-marked
    now; exactly one ArrowEvalPython per hashed side must remain."""
    import re

    # the search runs eagerly: count the hash nodes of the final plans it
    # executed (an adaptive plan's description also lists its initial plan)
    _, _, ran = _executed(spark, lambda: knn.ann_search_lsh_q(spark, SF_SMALL))
    trees = [p.split("\n\n\n")[0].split("== Initial Plan ==")[0] for p in ran]
    n = sum(t.count("ArrowEvalPython") for t in trees)
    assert n == 2, ran  # one _hash per side (index + queries)

    df2 = ivf.ann_search_ivf_q(spark, SF_SMALL)
    plan2 = plans.formatted_plan(df2)
    n2 = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan2, re.M))
    assert n2 == 2, plan2  # one _assign (index) + one _probe (queries)
