"""Hierarchical (two-level) coarse k-means + routed assignment gates.

Above ``similarity._FLAT_KMEANS_MAX`` centroids the IVF/IVF-PQ builders
train two-level and assign via level-1 routing (the FAISS large-nlist
regime — an exact coarse pass is O(rows x n_centroids), measured ~1 ms/
row/iter at the 163,840-list 10^8 geometry). These tests gate the pieces
at test scale by forcing the threshold down: allocation invariants,
deterministic training, routed-vs-flat assignment agreement, route
persistence, and lists/vectors cid consistency through the backfill.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mysteryann_spark.operators import similarity
from mysteryann_spark.operators.similarity import (
    _alloc_quota,
    _hierarchical_kmeans,
    _routed_nearest,
    build_ivfpq_index,
    search_ivfpq_index,
)

SF_TINY = "/root/testdata/sf0.001"


def test_alloc_quota_proportional_and_capped():
    counts = np.array([100, 50, 25, 25, 0])
    q = _alloc_quota(counts, 8)
    assert q.sum() == 8
    assert q[4] == 0  # empty cell trains nothing
    assert q[0] >= q[1] >= q[2]  # mass-proportional
    # per-cell capacity cap: a cell cannot train more centroids than points
    q2 = _alloc_quota(np.array([2, 1, 1000]), 10)
    assert q2.sum() == 10 and q2[0] <= 2 and q2[1] <= 1
    # capacity-starved: allocate everything there is
    q3 = _alloc_quota(np.array([2, 3]), 10)
    assert q3.tolist() == [2, 3]
    # determinism
    assert np.array_equal(_alloc_quota(counts, 8), q)


def _planted(n_clusters=24, per=80, dim=16, seed=0):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, per, axis=0) + 0.02 * rng.normal(
        size=(n_clusters * per, dim)
    )
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    return pts


def test_hierarchical_kmeans_structure_and_determinism():
    vecs = _planted()
    cmat, l1, indptr = _hierarchical_kmeans(vecs, 24, max_iter=8, seed=7, branch=6)
    assert cmat.shape == (24, vecs.shape[1])
    assert len(indptr) == len(l1) + 1
    assert indptr[0] == 0 and indptr[-1] == 24
    assert np.all(np.diff(indptr) >= 0)
    # identical rerun — seeded end to end
    cmat2, l1_2, indptr2 = _hierarchical_kmeans(vecs, 24, max_iter=8, seed=7, branch=6)
    np.testing.assert_array_equal(cmat, cmat2)
    np.testing.assert_array_equal(l1, l1_2)
    np.testing.assert_array_equal(indptr, indptr2)
    # quantization quality is gated RELATIVE to flat Lloyd on the same
    # sample (both are init-sensitive local-minimum finders — the flat
    # pass itself lands at ~0.22 mean error on this planted set): the
    # two-level decomposition must not degrade the codebook materially
    from mysteryann_spark.operators.similarity import _sample_kmeans

    d_h = ((vecs[:, None, :] - cmat[None, :, :]) ** 2).sum(-1).min(1)
    flat = _sample_kmeans(vecs, 24, max_iter=8, seed=7)
    d_f = ((vecs[:, None, :] - flat[None, :, :]) ** 2).sum(-1).min(1)
    ratio = float(np.sqrt(d_h).mean()) / float(np.sqrt(d_f).mean())
    assert ratio <= 1.25, f"hierarchical/flat quantization-error ratio {ratio}"


def test_routed_nearest_agrees_with_flat():
    vecs = _planted(seed=3)
    cmat, l1, indptr = _hierarchical_kmeans(vecs, 24, max_iter=8, seed=7, branch=6)
    c32 = np.ascontiguousarray(cmat, dtype=np.float32)
    l1_32 = np.ascontiguousarray(l1, dtype=np.float32)
    routed1 = _routed_nearest(vecs, c32, l1_32, indptr, 1)[:, 0]
    flat = (
        (vecs[:, None, :].astype(np.float32) - c32[None, :, :]) ** 2
    ).sum(-1).argmin(1)
    agree = float((routed1 == flat).mean())
    assert agree >= 0.95, f"routed/flat top-1 agreement {agree}"
    # top-n: routed top-4 overlaps the exact top-4 heavily
    routed4 = _routed_nearest(vecs, c32, l1_32, indptr, 4)
    exact4 = np.argsort(
        ((vecs[:, None, :].astype(np.float32) - c32[None, :, :]) ** 2).sum(-1), axis=1
    )[:, :4]
    overlap = np.mean(
        [len(set(a) & set(b)) / 4.0 for a, b in zip(routed4, exact4)]
    )
    assert overlap >= 0.85, f"routed/flat top-4 overlap {overlap}"
    # determinism
    np.testing.assert_array_equal(
        routed4, _routed_nearest(vecs, c32, l1_32, indptr, 4)
    )


@pytest.fixture(scope="module")
def hier_built(spark, tmp_path_factory):
    from mysteryann_spark.sources.tables import load_table

    base = load_table(spark, "embeddings", SF_TINY)
    old = similarity._FLAT_KMEANS_MAX
    similarity._FLAT_KMEANS_MAX = 8  # force the hierarchical path
    try:
        index = build_ivfpq_index(base, n_centroids=32, m=8, n_codes=32)
    finally:
        similarity._FLAT_KMEANS_MAX = old
    path = str(tmp_path_factory.mktemp("hier") / "idx")
    from mysteryann_spark.sources.ann_index_io import save_ivfpq

    save_ivfpq(index, path, base_df=base, vec_dtype="double")
    return base, index, path


def test_hierarchical_build_carries_and_persists_route(spark, hier_built):
    import os

    from mysteryann_spark.sources.ann_index_io import load_ivfpq

    base, index, path = hier_built
    assert "route" in index
    l1, indptr = index["route"]
    assert indptr[-1] == index["meta"]["n_centroids"]
    assert os.path.isdir(f"{path}/route")
    loaded = load_ivfpq(spark, path)
    np.testing.assert_array_equal(loaded["route"][0], l1)
    np.testing.assert_array_equal(loaded["route"][1], indptr)


def test_hierarchical_lists_and_vectors_cids_agree(spark, hier_built):
    """The persisted vectors dataset must carry the SAME cid per row as
    the lists (the refine join partition-prunes on it): the backfill
    re-derives assignment through the persisted route."""
    base, index, path = hier_built
    lists = spark.read.parquet(f"{path}/lists").select("nn_id", F.col("cid").alias("lc"))
    vecs = spark.read.parquet(f"{path}/vectors").select("nn_id", F.col("cid").alias("vc"))
    joined = lists.join(vecs, "nn_id")
    assert joined.count() == base.count()
    assert joined.where(F.col("lc") != F.col("vc")).count() == 0


def test_hierarchical_search_recall_matches_flat(spark, hier_built):
    """End-to-end: IVF-PQ over hierarchical-trained lists recovers the
    exact neighbors AS WELL AS the flat-trained index at the same
    geometry (routing is approximate at cell boundaries; the flat
    baseline on this 500-row table at 32 lists / probe-8 sits ~0.59, so
    the honest gate is comparative, not absolute)."""
    from mysteryann_spark.operators.evaluate import mean_recall
    from mysteryann_spark.operators.knn import knn_join_arrays

    base, index, path = hier_built
    q = base.where(F.col("vec_id") < 40).select(F.col("vec_id").alias("qid"), "embedding")
    gt = knn_join_arrays(q, base, 10, "cosine")

    def recall_of(idx):
        res = search_ivfpq_index(q, idx, 10, n_probe=8, refine=20, base_df=base)
        arr = (
            res.groupBy("qid")
            .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
            .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
        )
        return mean_recall(arr, gt, 10)

    r_hier = recall_of(index)
    flat_index = build_ivfpq_index(base, n_centroids=32, m=8, n_codes=32)
    r_flat = recall_of(flat_index)
    assert r_hier >= r_flat - 0.05, (
        f"hierarchical recall@10={r_hier} vs flat {r_flat}"
    )


def test_train_collect_guard_and_size_parse():
    """The training-sample collect must fail FAST with an actionable
    message when it would exceed spark.driver.maxResultSize (measured
    r11: the 10.5M-row sample at the 163,840-list geometry died 7 min in
    with a BrokenPipeError three layers from the cause)."""
    import pytest

    from mysteryann_spark.operators.similarity import (
        _guard_train_collect,
        _parse_size_bytes,
    )

    assert _parse_size_bytes("1g") == 1 << 30
    assert _parse_size_bytes("512m") == 512 << 20
    assert _parse_size_bytes("1024k") == 1 << 20
    assert _parse_size_bytes("2gb") == 2 << 30
    assert _parse_size_bytes("123") == 123
    assert _parse_size_bytes("1.5g") == int(1.5 * (1 << 30))

    # 10.5M x 64 at the stock 1g limit: the r11 failure, now legible
    with pytest.raises(RuntimeError, match="maxResultSize"):
        _guard_train_collect(10_485_760, 64, 1 << 30)
    # under the limit / unlimited (0): no complaint
    _guard_train_collect(1_000_000, 64, 1 << 30)
    _guard_train_collect(10_485_760, 64, 0)


def test_routed_assignment_falls_back_when_top_cells_empty():
    """A row whose top-R level-1 cells are ALL zero-quota must not come
    back with id -1 (pre-fix it did: the row got cid=-1 and silently
    vanished from every probed list — data loss the flat path cannot
    exhibit). The fallback scores just those rows against the full flat
    matrix, so the result is the EXACT top-n."""
    import numpy as np

    from mysteryann_spark.operators.similarity import _routed_nearest

    # k=64 children across branch=8 cells -> avg 8 children/cell, so at
    # n=3 the router probes R=4 of 8 cells. The 4 cells nearest the query
    # (0-3) are zero-quota; all children live in cells 5-8's ranges.
    l1 = np.zeros((8, 2), dtype=np.float32)
    l1[:, 0] = np.arange(8)
    indptr = np.array([0, 0, 0, 0, 0, 16, 32, 48, 64], dtype=np.int64)
    c32 = np.zeros((64, 2), dtype=np.float32)
    c32[:, 0] = 4.0 + np.arange(64) / 64.0
    # one row in the empty region, one normal row (mixed batch: only the
    # starved row takes the fallback path)
    m = np.array([[0.0, 0.0], [7.0, 0.0]], dtype=np.float64)
    out = _routed_nearest(m, c32, l1, indptr, 3)
    assert (out >= 0).all(), f"-1 ids survived the fallback: {out}"
    d = ((c32[None, :, :] - m[:, None, :].astype(np.float32)) ** 2).sum(axis=2)
    exact = np.argsort(d, axis=1)[:, :3]
    np.testing.assert_array_equal(out, exact)


def test_train_collect_guard_uses_double_width():
    """The guard must upper-bound the REAL Arrow footprint: the collected
    column is array<double> (8 B/element), and the old 5 B estimate let
    a collect sized between the two pass the guard and still die with
    the original opaque BrokenPipeError."""
    import pytest

    from mysteryann_spark.operators.similarity import _guard_train_collect

    # 1M x 64 = 488 MiB at 8 B/element but 305 MiB at 5 B: a 400 MiB
    # limit must now refuse it
    with pytest.raises(RuntimeError, match="maxResultSize"):
        _guard_train_collect(1_000_000, 64, 400 << 20)


def _jobs_in(sc, group: str, fn) -> int:
    """Driver jobs ``fn`` runs, counted under its own job group."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ivf_builds_job_count(spark, emb):
    """The IVF builds run a fixed handful of driver jobs: one fused
    count + dim aggregate, the bounded training-sample collects and the
    query staging write. A split count()/head() or a repeat count per
    trainer shows up here as an extra job."""
    from mysteryann_spark.operators.knn_approx import ivf_knn_join

    sc = spark.sparkContext
    emb.count()  # materialize the cached fixture outside the groups
    q = emb.where("vec_id < 50").select(F.col("vec_id").alias("qid"), "embedding")
    flat = _jobs_in(sc, "ivf-jobs-flat", lambda: build_ivfpq_index(emb))
    hier = _jobs_in(
        sc,
        "ivf-jobs-hier",
        lambda: build_ivfpq_index(emb, hierarchical=True, branch=8),
    )
    join = _jobs_in(
        sc, "ivf-jobs-join", lambda: ivf_knn_join(q, emb, 5, "l2", n_centroids=16)
    )
    cos = _jobs_in(
        sc,
        "ivf-jobs-cos",
        lambda: ivf_knn_join(q, emb, 5, "cosine", n_centroids=16, exclude_self=True),
    )
    assert (flat, hier, join, cos) == (4, 4, 4, 4)


def test_ivfpq_rejects_indivisible_m_before_training(spark, emb, monkeypatch):
    """``m`` must divide the vector width. Both entry points check it
    right after the count + dim aggregate: no job beyond that aggregate
    (no sample collect) and no coarse k-means (hours at the 10^8
    geometry) before the error."""
    from mysteryann_spark.operators.similarity import train_pq_codebooks

    calls = []
    real = similarity._sample_kmeans
    monkeypatch.setattr(
        similarity,
        "_sample_kmeans",
        lambda *a, **kw: calls.append(1) or real(*a, **kw),
    )
    sc = spark.sparkContext
    emb.count()
    # the count + dim aggregate's own jobs (AQE runs its exchange as one)
    agg = _jobs_in(
        sc,
        "ivfpq-m7-agg",
        lambda: emb.agg(F.count(F.lit(1)), F.first("embedding")).head(),
    )
    for name, fn in (
        ("ivfpq-m7-build", lambda: build_ivfpq_index(emb, m=7)),
        (
            "ivfpq-m7-books",
            lambda: train_pq_codebooks(emb, 7, 64, 8, 42, 4096, "vec_id", "embedding"),
        ),
    ):

        def rejected(fn=fn):
            with pytest.raises(ValueError, match="not divisible by m=7"):
                fn()

        assert _jobs_in(sc, name, rejected) == agg, name
    assert calls == []
