"""Property-based tests (hypothesis): the pure column expressions must agree
with a plain-Python reference on arbitrary inputs, not just the testdata."""

from __future__ import annotations

import hashlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from elastik_nearest_neighbors_spark.constants import FINGERPRINT_BASE, MERSENNE_P

words = st.text(alphabet="abcdefg", min_size=1, max_size=6)
token_lists = st.lists(words, min_size=3, max_size=30)


def _py_h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_shingles(toks: list[str], n: int = 3) -> list[str]:
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _py_fingerprint(toks: list[str]) -> int:
    acc = 0
    for t in toks:
        acc = (acc * FINGERPRINT_BASE + (_py_h60(t) % 1_000_000_007)) % MERSENNE_P
    return acc


class TestAgainstPythonReference:
    """One Spark job per class (batched rows), not per hypothesis example."""

    def test_shingles_and_fingerprint(self, spark):
        import pyspark.sql.functions as F

        from elastik_nearest_neighbors_spark.functions.text import (
            fingerprint,
            md5_hash60,
            word_shingles,
        )

        # collect a deterministic batch of hypothesis-style cases
        cases: list[list[str]] = []

        @settings(max_examples=60, deadline=None)
        @given(token_lists)
        def collect(toks):
            cases.append(toks)

        collect()
        df = spark.createDataFrame([(" ".join(t),) for t in cases], ["text"])
        toks = F.split("text", " ")
        out = df.select(
            "text",
            word_shingles(toks).alias("sh"),
            fingerprint(toks).alias("fp"),
            md5_hash60(F.col("text")).alias("h"),
        ).collect()
        for row in out:
            pytoks = row.text.split(" ")
            assert list(row.sh) == _py_shingles(pytoks), pytoks
            assert row.fp == _py_fingerprint(pytoks), pytoks
            assert row.h == _py_h60(row.text)


def test_bmp_roundtrip_arbitrary_shapes():
    """decode(synth_bmp(seed, w, h)) must reproduce the formula pixels for
    ARBITRARY shapes — including widths whose 3·w row stride needs 1-3 pad
    bytes and whose padding would corrupt pixels if mishandled."""
    import numpy as np

    from elastik_nearest_neighbors_spark.operators import multimodal as mm

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=0, max_value=2**40),
        st.integers(min_value=1, max_value=37),
        st.integers(min_value=1, max_value=19),
    )
    def check(seed, w, h):
        px = mm.decode_image(mm.synth_bmp(seed, w=w, h=h))
        assert px.shape == (h, w, 3)
        k = np.arange(w * h, dtype=np.int64)[:, None]
        c = np.arange(3, dtype=np.int64)[None, :]
        want = ((seed + k * mm.IMG_B + c * mm.IMG_C) % 256).reshape(h, w, 3)
        assert (px == want).all()

    check()


def test_wav_roundtrip_arbitrary_samples():
    """decode_audio(synth_wav) reproduces the integer sample formula for
    arbitrary doc ids and lengths, including odd-size (word-padded) chunks;
    multi-channel payloads downmix by mean."""
    import struct

    import numpy as np

    from elastik_nearest_neighbors_spark.operators import multimodal as mm

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=0, max_value=2**40),
        st.integers(min_value=1, max_value=700),
    )
    def check(doc_id, n):
        x = mm.decode_audio(mm.synth_wav(doc_id, n=n))
        k = np.arange(n, dtype=np.int64)
        want = ((doc_id * mm.WAV_A + k * mm.WAV_B) % 65536 - 32768).astype(np.float64)
        assert (x == want).all()

    check()
    # stereo: interleave two known channels, expect their per-frame mean
    left = np.array([100, -200, 300], dtype="<i2")
    right = np.array([300, 200, -100], dtype="<i2")
    inter = np.empty(6, dtype="<i2")
    inter[0::2], inter[1::2] = left, right
    data = inter.tobytes()
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    got = mm.decode_audio(wav)
    assert (got == (left.astype(np.float64) + right) / 2).all()


def test_rvid_roundtrip_arbitrary_frame_counts():
    from elastik_nearest_neighbors_spark.operators import multimodal as mm

    @settings(max_examples=20, deadline=None)
    @given(
        st.integers(min_value=0, max_value=2**31),
        st.integers(min_value=1, max_value=12),
    )
    def check(doc_id, n_frames):
        vid = mm.decode_video(mm.synth_video(doc_id, n_frames=n_frames))
        assert vid.shape == (n_frames, mm.VID_H, mm.VID_W, 3)

    check()


def test_connected_components_matches_union_find(spark):
    """The alternating-star components must equal a plain-Python union-find
    on random graphs — the property that caught every rewiring subtlety
    while the algorithm was being built."""
    import numpy as np

    from elastik_nearest_neighbors_spark.operators.dedup import _connected_components

    rng = np.random.default_rng(7)
    for _ in range(4):
        n = int(rng.integers(20, 120))
        n_e = int(rng.integers(1, n))
        edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(n_e, 2)) if a != b]
        if not edges:
            continue
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in range(n)}
        nodes = spark.range(n).withColumnRenamed("id", "doc_id")
        e = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.doc_id: r.cluster_id for r in _connected_components(nodes, e).collect()}
        assert got == want, {v: (got[v], want[v]) for v in got if got[v] != want[v]}


def test_two_level_pruned_rows_properties():
    """_descend_rows over one (coarse, members) level on random matrices:
    every input row gets candidates; distances are true rounded
    euclideans; the first candidate per row is
    exactly the flat rounded-argmin RESTRICTED to the scanned set
    (lexsort tie rule: min dist, then min list_id); and scanning all
    coarse groups (w = #groups) reproduces flat argmin exactly."""
    import numpy as np

    from elastik_nearest_neighbors_spark.constants import DIST_ROUND
    from elastik_nearest_neighbors_spark.operators.ivf import (
        _chunked_sq_dists,
        _coarse_members,
        _descend_rows,
        _lloyd,
    )

    rng = np.random.default_rng(11)
    for _ in range(5):
        n, d, k = int(rng.integers(30, 200)), int(rng.integers(2, 16)), int(rng.integers(8, 40))
        x = rng.normal(size=(n, d))
        cent = _lloyd(x, min(k, n), 3)
        coarse, members = _coarse_members(cent, _lloyd(cent, max(2, int(round(len(cent) ** 0.5))), 2))
        # every fine list belongs to exactly one kept coarse group
        assert np.array_equal(np.sort(np.concatenate(members)), np.arange(len(cent)))
        v = rng.normal(size=(17, d))
        for w in (1, 2, len(coarse)):
            rows, lids, dists = _descend_rows(v, cent, [(coarse, members)], w)
            first = np.unique(rows, return_index=True)[1]
            assert len(first) == len(v)
            chk = np.round(
                np.sqrt(((v - cent[lids[first]]) ** 2).sum(axis=1)), DIST_ROUND
            )
            assert np.allclose(chk, dists[first])
            # per-row winner == flat argmin over the scanned candidate set
            full = np.round(np.sqrt(_chunked_sq_dists(v, cent)), DIST_ROUND)
            for ri in range(len(v)):
                cand = lids[rows == ri]
                best = cand[np.lexsort((cand, full[ri, cand]))[0]]
                assert lids[first[ri]] == best
        # w = all groups ⇒ identical to unrestricted flat argmin
        rows, lids, dists = _descend_rows(v, cent, [(coarse, members)], len(coarse))
        first = np.unique(rows, return_index=True)[1]
        assert np.array_equal(lids[first], full.argmin(axis=1))


def test_descend_rows_multilevel_properties(monkeypatch):
    """Log-depth descent (r5): with a forced-deep hierarchy every input
    row still gets candidates, candidate distances are true rounded
    euclideans, the winner is the flat argmin over the scanned set, and
    scanning with w ≥ every level's width reproduces flat argmin exactly."""
    import numpy as np

    from elastik_nearest_neighbors_spark import constants
    from elastik_nearest_neighbors_spark.constants import DIST_ROUND
    from elastik_nearest_neighbors_spark.operators import ivf as ivf_mod

    monkeypatch.setattr(constants, "HIER_BRANCH", 8)
    monkeypatch.setattr(constants, "HIER_TOP", 4)

    rng = np.random.default_rng(23)
    x = rng.normal(size=(400, 6))
    cent = ivf_mod._lloyd(x, 150, 3)
    levels = ivf_mod._build_levels(cent)
    assert len(levels) >= 2  # 150 -> ~19 -> ~3: genuinely multi-level
    # every level's members partition the level below
    below = len(cent)
    for c_lvl, members in levels:
        assert np.array_equal(
            np.sort(np.concatenate(members)), np.arange(below)
        )
        below = len(c_lvl)
    v = rng.normal(size=(23, 6))
    full = np.round(np.sqrt(ivf_mod._chunked_sq_dists(v, cent)), DIST_ROUND)
    for w in (1, 2, 3):
        rows, lids, dists = ivf_mod._descend_rows(v, cent, levels, w)
        first = np.unique(rows, return_index=True)[1]
        assert len(first) == len(v)
        chk = np.round(
            np.sqrt(((v - cent[lids[first]]) ** 2).sum(axis=1)), DIST_ROUND
        )
        assert np.allclose(chk, dists[first])
        for ri in range(len(v)):
            cand = lids[rows == ri]
            best = cand[np.lexsort((cand, full[ri, cand]))[0]]
            assert lids[first[ri]] == best
    # w wide enough to keep every group at every level ⇒ flat argmin
    w_all = max(len(c) for c, _ in levels)
    rows, lids, dists = ivf_mod._descend_rows(v, cent, levels, w_all)
    first = np.unique(rows, return_index=True)[1]
    assert np.array_equal(lids[first], full.argmin(axis=1))


def test_pruned_rows_and_dists_empty_batch():
    """Empty Arrow batches (sparse partitions) must yield empty candidate
    arrays, not a np.concatenate([]) ValueError (ADVICE r4)."""
    import numpy as np
    import pandas as pd

    from elastik_nearest_neighbors_spark.operators.ivf import (
        IvfModel,
        _coarse_members,
        _descend_rows,
        _lloyd,
    )

    rng = np.random.default_rng(7)
    x = rng.normal(size=(120, 8))
    cent = _lloyd(x, 32, 3)
    coarse, members = _coarse_members(cent, _lloyd(cent, 6, 2))
    v = np.empty((0, 8), dtype=np.float64)
    rows, lids, dists = _descend_rows(v, cent, [(coarse, members)], 2)
    assert rows.shape == (0,) and lids.shape == (0,) and dists.shape == (0,)
    assert rows.dtype == np.int64 and dists.dtype == np.float64
    # the flat path too: np.array([]) from an empty pd.Series is 1-D
    m = IvfModel(cent)
    d = m._dists(pd.Series([], dtype=object))
    assert d.shape == (0, 32)


def test_unique_rows_splits_on_bit_pattern():
    """unique_rows groups on the raw BIT PATTERN: -0.0 and 0.0 rows stay
    distinct (np.unique would merge them), exact duplicates collapse, and
    first_idx is each group's first occurrence — the dedup fit_path runs
    on its sample."""
    import numpy as np

    from elastik_nearest_neighbors_spark.operators.ivf import unique_rows

    x = np.array(
        [
            [0.0, 1.0],
            [-0.0, 1.0],  # bit-distinct from row 0: kept
            [0.0, 1.0],  # exact duplicate of row 0: collapsed
            [2.0, 3.0],
        ],
        dtype=np.float64,
    )
    uvals, inv, first_idx = unique_rows(x)
    assert sorted(first_idx.tolist()) == [0, 1, 3]
    assert len(uvals) == 3
    assert inv[0] == inv[2] and len({inv[0], inv[1], inv[3]}) == 3


def test_local_knn_duplicate_collapse_equals_bruteforce(spark):
    """The duplicate-collapsed per-list kNN (r5) must equal an independent
    brute-force (round(dist), id) ranking on duplicate-heavy groups —
    including all-duplicate groups, groups mixing several duplicated
    values, boundary ties across value groups, and a no-duplicate group
    (which takes the dense path)."""
    import numpy as np

    from elastik_nearest_neighbors_spark.constants import DIST_ROUND, KNN_GRAPH_K
    from elastik_nearest_neighbors_spark.operators.graph import local_knn_groups

    rng = np.random.default_rng(31)
    rows = []
    vid = 0
    # group 0: two duplicated values x 12 copies + 6 singletons
    base = rng.normal(size=(2, 4))
    for j in range(2):
        for _ in range(12):
            rows.append((vid, base[j].tolist(), 0)); vid += 1
    for _ in range(6):
        rows.append((vid, rng.normal(size=4).tolist(), 0)); vid += 1
    # group 1: ALL duplicates of one value (17 copies)
    v1 = rng.normal(size=4)
    for _ in range(17):
        rows.append((vid, v1.tolist(), 1)); vid += 1
    # group 2: equidistant tie construction — two values at the same
    # rounded distance from a third, each duplicated
    a = np.zeros(4); b = np.array([1.0, 0, 0, 0]); c = np.array([0, 1.0, 0, 0])
    for val, reps in ((a, 5), (b, 4), (c, 4)):
        for _ in range(reps):
            rows.append((vid, val.tolist(), 2)); vid += 1
    # group 3: no duplicates at all (dense path)
    for _ in range(9):
        rows.append((vid, rng.normal(size=4).tolist(), 3)); vid += 1

    mem = spark.createDataFrame(rows, "vec_id long, v array<double>, list_id int")
    got = (
        local_knn_groups(mem, KNN_GRAPH_K)
        .toPandas()
        .sort_values(["vec_a", "distance", "vec_b"])
        .reset_index(drop=True)
    )

    # independent brute force per group
    import pandas as pd

    want_rows = []
    by_list: dict[int, list] = {}
    for r in rows:
        by_list.setdefault(r[2], []).append(r)
    for lid, members in by_list.items():
        ids = np.array([m[0] for m in members])
        x = np.array([m[1] for m in members])
        for i in range(len(ids)):
            d = np.round(np.sqrt(((x - x[i]) ** 2).sum(axis=1)), DIST_ROUND)
            cand = [(d[j], ids[j]) for j in range(len(ids)) if ids[j] != ids[i]]
            cand.sort()
            for dd, nb in cand[:KNN_GRAPH_K]:
                want_rows.append((ids[i], nb, dd))
    want = (
        pd.DataFrame(want_rows, columns=["vec_a", "vec_b", "distance"])
        .sort_values(["vec_a", "distance", "vec_b"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got.vec_a.values == want.vec_a.values).all()
    assert (got.vec_b.values == want.vec_b.values).all()
    assert (got.distance.values == want.distance.values).all()


def test_semantic_pairs_duplicate_collapse_equals_bruteforce():
    """semantic_pairs_local's collapsed branch must emit exactly the dense
    semantics — every (min-id, max-id) pair with rounded cosine >= tau,
    including all within-duplicate-set pairs (cos=1) and cross-value pairs
    in both id orientations."""
    import numpy as np

    from elastik_nearest_neighbors_spark.constants import DIST_ROUND
    from elastik_nearest_neighbors_spark.operators.ivf import semantic_pairs_local

    rng = np.random.default_rng(41)
    # ids deliberately interleaved across value groups so cross-group pairs
    # occur in both orientations
    vals = rng.normal(size=(5, 6))
    ids, x = [], []
    vid = 0
    for rep in range(8):
        for j in range(5):
            ids.append(vid)
            x.append(vals[j])
            vid += 1
    ids = np.array(ids)
    x = np.array(x)
    tau = -1.0  # every pair qualifies: the expansion logic is fully exercised
    a, b, c = semantic_pairs_local(ids, x, tau)
    got = sorted(zip(a, b, c))
    # brute force over all m^2 pairs
    want = []
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j]:
                cos = np.round(
                    float(x[i] @ x[j])
                    / (np.sqrt(float(x[i] @ x[i])) * np.sqrt(float(x[j] @ x[j]))),
                    DIST_ROUND,
                )
                if cos >= tau:
                    want.append((ids[i], ids[j], cos))
    want.sort()
    assert len(got) == len(want)
    for (ga, gb, gc), (wa, wb, wc) in zip(got, want):
        assert ga == wa and gb == wb
        assert abs(gc - wc) < 2e-6  # same rounded value modulo gemm ulp
    # a positive tau on duplicate-heavy data: all within-set pairs present
    a, b, c = semantic_pairs_local(ids, x, 0.999999)
    within = sum(1 for i in range(len(ids)) for j in range(len(ids))
                 if ids[i] < ids[j] and (x[i] == x[j]).all())
    assert len(a) >= within
    assert all(v >= 0.999999 for v in c)


def test_dedup_semantic_join_expansion_equals_pandas_path(spark, tmp_path, monkeypatch):
    """On a duplicated corpus, dedup_semantic's join-expansion path must
    emit exactly the rows of the legacy per-list pandas path (which the
    collapse property test ties to brute force). The r6 switch keys off
    the estimated TOTAL answer size vs SEMDEDUP_PANDAS_PAIRS_MAX, so the
    join path is forced by driving that bound to -1 (and the pandas path
    by the default bound, far above this corpus's estimate)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elastik_nearest_neighbors_spark import constants
    from elastik_nearest_neighbors_spark.operators import ivf

    rng = np.random.default_rng(57)
    # 7 base values, duplicated 1-9x, plus near-duplicates (tiny jitter)
    # of two of them so cross-VALUE qualifying pairs exist
    base = rng.normal(size=(7, 8))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    vecs, vid = [], 0
    rows = []
    for j in range(7):
        for _ in range(1 + (j * 3) % 9):
            rows.append((vid, base[j].tolist(), int(j % 3)))
            vid += 1
    for j in (0, 3):
        near = base[j] + 1e-7 * rng.normal(size=8)
        for _ in range(4):
            rows.append((vid, near.tolist(), int(j % 3)))
            vid += 1
    sf_dir = str(tmp_path)
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "embedding": pa.array([r[1] for r in rows], type=pa.list_(pa.float64())),
            "label": pa.array([r[2] for r in rows], type=pa.int32()),
        }
    )
    pq.write_table(tbl, f"{sf_dir}/embeddings.parquet")

    n = len(rows)
    distinct = 9  # 7 base + 2 near values
    cols = ["list_id", "vec_a", "vec_b", "cosine"]
    # pandas path: duplicated counts but a tiny per-list estimate — the
    # default bound routes it through the legacy per-list emission
    ivf._CORPUS_COUNTS_CACHE[sf_dir] = (n, distinct)
    legacy = ivf.dedup_semantic(spark, sf_dir).toPandas()
    # forced join-expansion path: bound of -1 fails every estimate
    monkeypatch.setattr(constants, "SEMDEDUP_PANDAS_PAIRS_MAX", -1)
    joined = ivf.dedup_semantic(spark, sf_dir).toPandas()
    ivf._CORPUS_COUNTS_CACHE.pop(sf_dir, None)

    legacy = legacy.sort_values(cols).reset_index(drop=True)
    joined = joined.sort_values(cols).reset_index(drop=True)
    assert len(legacy) > 0  # duplicates guarantee within-set pairs
    assert len(legacy) == len(joined)
    for c in cols:
        assert (legacy[c].values == joined[c].values).all(), c

    # r8 skew guard: with the total-answer estimate PASSING but the
    # single-class worst case forced past the ceiling, the join path must
    # engage on its own (its plan carries the two expansion joins the
    # pandas path lacks) and still emit the identical rows
    monkeypatch.setattr(constants, "SEMDEDUP_PANDAS_PAIRS_MAX", 10**8)
    ivf._CORPUS_COUNTS_CACHE[sf_dir] = (n, distinct)
    ivf._MAX_DUP_CLASS_CACHE[sf_dir] = 1  # benign skew → pandas path
    df_pandas = ivf.dedup_semantic(spark, sf_dir)
    ivf._MAX_DUP_CLASS_CACHE[sf_dir] = 10**9  # one huge class → join path
    df_join = ivf.dedup_semantic(spark, sf_dir)
    n_joins_pandas = df_pandas._jdf.queryExecution().executedPlan().toString().count("Join")
    n_joins_join = df_join._jdf.queryExecution().executedPlan().toString().count("Join")
    assert n_joins_join > n_joins_pandas  # the guard actually flipped the plan
    skew = df_join.toPandas().sort_values(cols).reset_index(drop=True)
    assert len(skew) == len(legacy)
    for c in cols:
        assert (skew[c].values == legacy[c].values).all(), c
    ivf._CORPUS_COUNTS_CACHE.pop(sf_dir, None)
    ivf._MAX_DUP_CLASS_CACHE.pop(sf_dir, None)


def test_groups_by_inv_equals_naive_all_regimes():
    """groups_by_inv (r6: the linearithmic lexsort/split grouping) must
    return exactly the naive ``[np.sort(ids[inv == j]) for j in range(u)]``
    lists — same group order, same member order — across the regimes that
    matter: u ≪ m (viral duplication), u ≈ m/2 (half-duplicated corpus,
    the case whose O(u·m) cost motivated the rewrite), u == m (all
    distinct), u == 1, and shuffled non-contiguous ids."""
    import numpy as np

    from elastik_nearest_neighbors_spark.operators.ivf import groups_by_inv, unique_rows

    rng = np.random.default_rng(67)
    for m, u_target in ((0, 0), (1, 1), (40, 1), (200, 7), (400, 200), (300, 300)):
        if m == 0:
            ids = np.empty(0, dtype=np.int64)
            inv = np.empty(0, dtype=np.int64)
            u = 0
        else:
            # build vectors with exactly u_target distinct values, then let
            # unique_rows produce the real inv (hash order, like production)
            vals = rng.normal(size=(u_target, 6))
            pick = np.concatenate(
                [np.arange(u_target), rng.integers(0, u_target, size=m - u_target)]
            )
            rng.shuffle(pick)
            x = vals[pick]
            ids = rng.permutation(np.arange(10_000, 10_000 + m)).astype(np.int64)
            _, inv, _ = unique_rows(x)
            u = int(inv.max()) + 1
            assert u == u_target
        got = groups_by_inv(ids, inv, u)
        want = [np.sort(ids[inv == j]) for j in range(u)]
        assert len(got) == len(want) == u
        for g, w in zip(got, want):
            assert g.dtype == w.dtype == np.int64
            assert (g == w).all()


def test_local_knn_collapse_half_duplicated_corpus(spark):
    """Collapsed-branch kNN on the u ≈ m/2 regime (every value duplicated
    ~2×, no viral outliers): output must equal brute force. This is the
    corpus shape where the pre-r6 per-group boolean-mask scan was O(m²/2);
    correctness here pins the groups_by_inv rewrite inside the full
    operator, not just in isolation."""
    import numpy as np
    import pandas as pd

    from elastik_nearest_neighbors_spark.constants import DIST_ROUND, KNN_GRAPH_K
    from elastik_nearest_neighbors_spark.operators.graph import local_knn_groups

    rng = np.random.default_rng(73)
    rows = []
    vid = 0
    # one list: 30 distinct values, each appearing exactly twice (u = m/2),
    # ids interleaved so group membership isn't contiguous
    vals = rng.normal(size=(30, 5))
    order = rng.permutation(60)
    for slot in order:
        rows.append((vid, vals[slot % 30].tolist(), 0))
        vid += 1
    mem = spark.createDataFrame(rows, "vec_id long, v array<double>, list_id int")
    got = (
        local_knn_groups(mem, KNN_GRAPH_K)
        .toPandas()
        .sort_values(["vec_a", "distance", "vec_b"])
        .reset_index(drop=True)
    )
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows])
    want_rows = []
    for i in range(len(ids)):
        d = np.round(np.sqrt(((x - x[i]) ** 2).sum(axis=1)), DIST_ROUND)
        cand = [(d[j], ids[j]) for j in range(len(ids)) if ids[j] != ids[i]]
        cand.sort()
        for dd, nb in cand[:KNN_GRAPH_K]:
            want_rows.append((ids[i], nb, dd))
    want = (
        pd.DataFrame(want_rows, columns=["vec_a", "vec_b", "distance"])
        .sort_values(["vec_a", "distance", "vec_b"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got.vec_a.values == want.vec_a.values).all()
    assert (got.vec_b.values == want.vec_b.values).all()
    assert (got.distance.values == want.distance.values).all()


# ---- r7 tokenizer seam ------------------------------------------------------


def test_default_tokenizer_is_bit_identical_to_inline_split(spark):
    """The seam's default must emit the EXACT expression tree the operators
    inlined before r7 — same Catalyst plan, so every oracle is untouched."""
    import pyspark.sql.functions as F

    from elastik_nearest_neighbors_spark.functions.text import active_tokenizer, tokens

    assert active_tokenizer() == "whitespace"
    seam = tokens(F.col("text"))
    inline = F.split(F.col("text"), " ")
    # expression-level identity (stringified Catalyst expression), not just
    # value equality: a same-valued different plan would still churn bench
    assert str(seam) == str(inline)


def test_char_tokenizer_end_to_end(spark, monkeypatch):
    """ENN_TOKENIZER=char flips the whole seam coherently: token_count
    becomes per-character counts (matching a plain-Python reference) and the
    minhash family still computes signatures over char shingles."""
    import os

    from elastik_nearest_neighbors_spark.operators import dedup, textops

    SF_SMALL = "/root/testdata/sf0.001"
    base = textops.token_count(spark, SF_SMALL).toPandas()
    monkeypatch.setenv("ENN_TOKENIZER", "char")
    got = textops.token_count(spark, SF_SMALL).toPandas()
    docs = spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for _, row in got.head(50).iterrows():
        chars = [c for c in texts[row.doc_id] if c != " "]
        assert row.ws_tokens == len(chars)
        assert row.uniq_tokens == len(set(chars))
    # default run differs (unless every doc is single-char words)
    assert not got.ws_tokens.equals(base.ws_tokens)
    # minhash over char-3-shingles: full pipeline still runs and produces a
    # signature per doc long enough to shingle
    sig = dedup.minhash_signatures(spark, SF_SMALL).toPandas()
    assert len(sig) > 0 and sig.doc_id.is_unique


def test_unknown_tokenizer_raises(monkeypatch):
    import pyspark.sql.functions as F
    import pytest

    from elastik_nearest_neighbors_spark.functions import text as T

    monkeypatch.setenv("ENN_TOKENIZER", "nope")
    with pytest.raises(ValueError, match="unknown tokenizer"):
        T.tokens(F.col("text"))


def test_dictionary_tokenizer_pandas_udf_plugs_in(spark, monkeypatch):
    """r8 (r7 verdict Missing #4): a DICTIONARY-SEGMENTING tokenizer —
    greedy longest-match over a lexicon, the jieba-class shape — registered
    through register_tokenizer as an Arrow-batched pandas UDF. Proves the
    seam's plug-in contract with a real UDF tokenizer (the built-ins are
    pure expressions): token_count and the whole minhash family run through
    it unchanged, both via the env selection and via the explicit r8
    `tokenizer=` parameter."""
    import os

    from pyspark.sql.functions import pandas_udf

    from elastik_nearest_neighbors_spark.functions import text as T
    from elastik_nearest_neighbors_spark.operators import dedup, textops

    SF_SMALL = "/root/testdata/sf0.001"
    # longest-first so the greedy match is deterministic regardless of
    # lexicon insertion order
    LEX = sorted(("data", "index", "vector", "the", "and", "in", "a"), key=len, reverse=True)

    def seg_one(s: str) -> list[str]:
        s = s.replace(" ", "")
        out, i = [], 0
        while i < len(s):
            for w in LEX:
                if s.startswith(w, i):
                    out.append(w)
                    i += len(w)
                    break
            else:
                out.append(s[i])
                i += 1
        return out

    dict_tokens = pandas_udf(lambda col: col.map(seg_one), "array<string>")

    T.register_tokenizer("dict_demo", dict_tokens)
    try:
        monkeypatch.setenv("ENN_TOKENIZER", "dict_demo")
        got = textops.token_count(spark, SF_SMALL).toPandas()
        docs = spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))
        texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
        for _, row in got.head(30).iterrows():
            ref = seg_one(texts[row.doc_id])
            assert row.ws_tokens == len(ref)
            assert row.uniq_tokens == len(set(ref))
        # the minhash family shingles the dict tokens end-to-end
        monkeypatch.delenv("ENN_TOKENIZER")
        sig = dedup.minhash_signatures(spark, SF_SMALL, tokenizer="dict_demo").toPandas()
        assert len(sig) > 0 and sig.doc_id.is_unique
        # and the explicit param never touched process state
        assert "ENN_TOKENIZER" not in os.environ
    finally:
        T._TOKENIZERS.pop("dict_demo", None)


def test_explicit_tokenizer_param_overrides_env(monkeypatch):
    """r8: tokens(col, name=...) overrides ENN_TOKENIZER without touching
    process state — minhash_signatures_char selects 'char' this way, so a
    concurrent plan build in the same process can never observe it."""
    import os

    import pyspark.sql.functions as F

    from elastik_nearest_neighbors_spark.functions import text as T

    monkeypatch.delenv("ENN_TOKENIZER", raising=False)
    # explicit name wins over the (default) env selection: the char
    # tokenizer is a higher-order filter (lambda ids are unique per build,
    # so structural markers, not exact string equality)
    char_expr = str(T.tokens(F.col("text"), "char"))
    assert "filter" in char_expr and char_expr != str(F.split(F.col("text"), " "))
    # ...and env is untouched after building the char expression
    assert "ENN_TOKENIZER" not in os.environ
    # explicit name also wins over a conflicting env var
    monkeypatch.setenv("ENN_TOKENIZER", "char")
    ws_expr = T.tokens(F.col("text"), "whitespace")
    assert str(ws_expr) == str(F.split(F.col("text"), " "))


def test_register_tokenizer_plugs_in(monkeypatch):
    import pyspark.sql.functions as F

    from elastik_nearest_neighbors_spark.functions import text as T

    T.register_tokenizer("upper_ws", lambda c: F.split(F.upper(c), " "))
    try:
        monkeypatch.setenv("ENN_TOKENIZER", "upper_ws")
        assert str(T.tokens(F.col("text"))) == str(F.split(F.upper(F.col("text")), " "))
    finally:
        T._TOKENIZERS.pop("upper_ws", None)


def _tie_values(rng, n: int) -> np.ndarray:
    """`n` doubles whose shortest decimal string has exactly seven
    decimals, the last a 5 (a HALF_UP tie at DIST_ROUND = 6 places), over
    integer parts from 0 to 10**6."""
    whole = rng.integers(0, 10 ** rng.integers(0, 7, n))
    frac = rng.integers(0, 10**6, n)
    return np.array([float(f"{w}.{f:06d}5") for w, f in zip(whole.tolist(), frac.tolist())])


def test_numpy_distance_twin_matches_spark_rounding(spark, tmp_path):
    """functions.vector's numpy twin, rounded_np(euclidean_np(a, b)), must
    equal Spark's F.round(euclidean(a, b), DIST_ROUND) bit for bit: the
    HTTP server ranks with the twin, and the batch path and every oracle
    with the Catalyst expression. Pairs: 10**6 random 3-d pairs with scales
    from 1e-4 to 1e6, 2·10**4 64-d pairs, and 3·10**4 constructed
    half-way cases (plus their neighbouring doubles) whose distance's 7th
    decimal is a tie. At a tie the HALF_UP result rests on the decimal
    string: Spark reads it from the JDK's Double.toString, which JDK 17
    does not always print shortest (JDK-4511638), the twin from Python's
    shortest repr."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from elastik_nearest_neighbors_spark.constants import DIST_ROUND
    from elastik_nearest_neighbors_spark.functions.vector import (
        euclidean,
        euclidean_np,
        rounded_np,
    )

    rng = np.random.default_rng(20261018)
    n = 10**6
    scale = 10 ** rng.uniform(-4, 6, (n, 1))
    ties = _tie_values(rng, 3 * 10**4)
    ties = np.concatenate([ties, np.nextafter(ties, 0.0), np.nextafter(ties, np.inf)])
    zeros = np.zeros((len(ties), 3))
    groups = [
        (rng.standard_normal((n, 3)) * scale, rng.standard_normal((n, 3)) * scale),
        (rng.standard_normal((2 * 10**4, 64)), rng.standard_normal((2 * 10**4, 64))),
        # (t, 0, 0) against the origin: the distance is sqrt(t * t) == t
        (np.column_stack([ties, zeros[:, 1:]]), zeros),
        (zeros, np.column_stack([zeros[:, :2], ties])),
    ]
    dist = np.concatenate([euclidean_np(a, b) for a, b in groups])
    want = rounded_np(dist)
    for a, b in groups[2:]:
        assert np.array_equal(euclidean_np(a, b), ties)

    def lists(arrays):
        rows = np.concatenate([m.ravel() for m in arrays])
        offsets = np.cumsum([0] + [m.shape[1] for m in arrays for _ in range(len(m))])
        return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(rows))

    path = str(tmp_path / "pairs.parquet")
    table = pa.table(
        {
            "i": pa.array(np.arange(len(want))),
            "a": lists([a for a, _b in groups]),
            "b": lists([b for _a, b in groups]),
        }
    )
    pq.write_table(table, path)
    d = euclidean(F.col("a"), F.col("b"))
    got = (
        spark.read.parquet(path)
        .select("i", d.alias("d"), F.round(d, DIST_ROUND).alias("r"))
        .toArrow()
        .sort_by("i")
    )
    # the unrounded fold too, so a change of summation order shows
    for col, ours in (("d", dist), ("r", want)):
        theirs = got.column(col).to_numpy()
        bad = np.flatnonzero(theirs != ours)
        assert len(theirs) == len(ours) and not len(bad), (col, [(float(theirs[i]), float(ours[i])) for i in bad[:5]])


def _lsh_rows(rng, ids, tables: int, dim: int, ragged: bool = False, probes: int = 1) -> list:
    """(id, vector, hashes) rows over few distinct half-integer vectors and
    3 buckets per table, so both distances and n_match tie often; `ragged`
    rows hold 1..tables tables, and each table holds `probes` hashes."""
    base = rng.integers(-3, 4, size=(max(len(ids) // 4, 1), dim)) / 2.0
    vecs = base[rng.integers(0, len(base), len(ids))]
    ntab = rng.integers(1, tables + 1, len(ids)) if ragged else np.full(len(ids), tables)
    return [
        (i, v.tolist(), rng.integers(0, 3, t * probes).tolist()) for i, v, t in zip(ids, vecs, ntab)
    ]


def _dataframe_search(idx, q, k1: int, k2: int, probes: int = 1):
    """The DataFrame reference: explode, broadcast join, groupBy count
    (knn.term_match_counts), then knn.rank_term_matches's two windows."""
    import pyspark.sql.functions as F

    from elastik_nearest_neighbors_spark.operators import knn
    from elastik_nearest_neighbors_spark.operators.lsh import explode_hashes

    q_terms = q.select(
        F.col("vec_id").alias("query_id"), F.posexplode("hashes").alias("pos", "hash")
    ).select("query_id", (F.col("pos") / probes).cast("int").alias("tbl"), "hash")
    counts = knn.term_match_counts(explode_hashes(idx, "vec_id", "neighbor_id"), q_terms)
    return knn.rank_term_matches(counts, idx, q, k1, k2, "vec_id", "v")


def test_collision_search_bit_equals_dataframe_path(spark):
    """knn.collision_search returns exactly the rows of the DataFrame path
    it replaced, over seeded corpora with tied distances and tied n_match:
    k1 = 1, k1 below k2 and k1 above n; a query id the index lacks and a
    query with no matching bucket; string ids (non-ASCII among them, which
    Spark orders by UTF-8 bytes); ragged hashes on both sides; and two
    probes per table. Batches of 16 rows put several batches in each
    partition, so the per-partition cut and the driver merge both run."""
    from elastik_nearest_neighbors_spark.operators import knn

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        for seed, id_type, ragged, probes in (
            (1, "long", False, 1),
            (2, "string", False, 1),
            (3, "long", True, 1),
            (4, "string", True, 2),
        ):
            rng = np.random.default_rng(seed)
            ids = list(range(90))
            if id_type == "string":
                ids = [f"d{i:02d}" for i in range(86)] + ["Z", "a", "é", "ü1"]
            ddl = f"vec_id {id_type}, v array<double>, hashes array<bigint>"
            idx = spark.createDataFrame(_lsh_rows(rng, ids, 4, 3, ragged), ddl).coalesce(2)
            absent = "nope" if id_type == "string" else 1000
            q_rows = _lsh_rows(rng, ids[:6] + [absent], 4, 3, ragged, probes)
            q_rows.append((ids[7], [0.5, 0.5, 0.5], [7] * 4 * probes))  # no bucket
            q = spark.createDataFrame(q_rows, ddl)
            for k1, k2 in ((1, 5), (3, 5), (10, 5), (500, 5)):
                ref = _dataframe_search(idx, q, k1, k2, probes)
                want = sorted(map(tuple, ref.collect()))
                got = knn.collision_search(idx, q, k1, k2, "vec_id", "v", probes)
                assert got.schema == ref.schema
                assert sorted(map(tuple, got.collect())) == want, (seed, k1, k2)
                assert {r[0] for r in want} >= {absent}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_collision_search_duplicate_id_is_one_candidate_per_row(spark):
    """An _id stored twice is two candidates, each with its own n_match and
    distance, and as a query each of its rows is answered on its own; no
    row of a query's id is in its answer. (The DataFrame path instead sums
    the two rows' term matches into one n_match and pairs it with every
    vector of the id.) An id the index lacks (9) gets no rows."""
    from elastik_nearest_neighbors_spark import api

    docs = spark.createDataFrame(
        [
            (1, [0.0, 0.0], [0, 0]),
            (2, [1.0, 0.0], [0, 0]),
            (2, [0.0, 3.0], [0, 1]),
            (3, [5.0, 5.0], [1, 1]),
        ],
        "_id long, _aknn_vector array<double>, hashes array<bigint>",
    )
    got = sorted(map(tuple, api.aknn_search(docs, [1, 2, 9], 10, 10).collect()))
    assert got == [
        (1, 2, 1, 3.0),
        (1, 2, 2, 1.0),
        (2, 1, 1, 3.0),
        (2, 1, 2, 1.0),
        (2, 3, 1, 5.385165),
    ]


def test_collision_search_refuses_a_merge_beyond_max_result_size(spark):
    """collision_search checks its P·Q·k1 partial rows, 32 bytes each,
    against spark.driver.maxResultSize before the pass: the largest k1
    that fits is accepted (and answers as any k1 above n does), one more is
    a ValueError that names the setting."""
    import pytest

    from elastik_nearest_neighbors_spark.operators import knn

    rng = np.random.default_rng(5)
    ddl = "vec_id long, v array<double>, hashes array<bigint>"
    idx = spark.createDataFrame(_lsh_rows(rng, list(range(40)), 4, 3), ddl).coalesce(2)
    q = idx.where("vec_id < 3")
    cap = spark.sparkContext._jsc.sc().conf().getSizeAsBytes("spark.driver.maxResultSize", "1g")
    k1 = cap // 32 // (idx.rdd.getNumPartitions() * 3)
    want = sorted(map(tuple, knn.collision_search(idx, q, 40, 5, "vec_id", "v").collect()))
    assert sorted(map(tuple, knn.collision_search(idx, q, k1, 5, "vec_id", "v").collect())) == want
    with pytest.raises(ValueError, match="spark.driver.maxResultSize"):
        knn.collision_search(idx, q, k1 + 1, 5, "vec_id", "v")


def test_collision_search_refuses_mismatched_vector_dims(spark):
    """Where the DataFrame reference (knn.exact_scores) scores null,
    collision_search raises a ValueError that names both dims: a 2-d query
    against a 4-d index (zipping the axes would put it at 0.0 from
    [1, 1, 5, 5]), query rows of dims 1 and 3, and an index whose 2-row
    batches each hold one dim but differ from one another."""
    import pytest

    from elastik_nearest_neighbors_spark.operators import knn

    ddl = "vec_id long, v array<double>, hashes array<bigint>"
    rows = [(1, [1.0, 1.0, 5.0, 5.0], [0]), (2, [0.0, 0.0, 0.0, 0.0], [0])]
    idx = spark.createDataFrame(rows, ddl).coalesce(1)
    q4 = spark.createDataFrame([(9, [1.0, 1.0, 5.0, 4.0], [0])], ddl)
    assert sorted(r.distance for r in knn.collision_search(idx, q4, 10, 5, "vec_id", "v").collect()) == [1.0, 6.557439]
    with pytest.raises(ValueError, match="vector dim 4, the query rows dim 2"):
        knn.collision_search(idx, spark.createDataFrame([(9, [1.0, 1.0], [0])], ddl), 10, 5, "vec_id", "v")
    ragged = spark.createDataFrame([(8, [1.0], [0]), (9, [1.0, 1.0, 5.0], [0])], ddl)
    with pytest.raises(ValueError, match="vector dims 1 and 3"):
        knn.collision_search(idx, ragged, 10, 5, "vec_id", "v")

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        mixed = spark.createDataFrame(rows + [(3, [1.0, 1.0, 5.0], [0]), (4, [0.0, 0.0, 0.0], [0])], ddl)
        with pytest.raises(ValueError, match="vector dim 3, the query rows dim 4"):
            knn.collision_search(mixed.coalesce(1), q4, 10, 5, "vec_id", "v")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
