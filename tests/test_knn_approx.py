"""IVF-routed approximate kNN join (operators/knn_approx.py) — the
sub-quadratic phase-0 feed for the graph build.

Gates mirror the repo's ANN methodology: contract parity with knn_join
(ranking, tiebreaks, shapes), recall vs the exact join, determinism
across re-runs, and the self-exclusion semantics phase 1 depends on.
"""

import pytest
from pyspark.sql import functions as F

from mysteryann_spark.operators.knn import knn_join
from mysteryann_spark.operators.knn_approx import ivf_knn_join, ivf_knn_join_arrays


@pytest.fixture(scope="module")
def q(emb):
    return emb.select(F.col("vec_id").alias("qid"), "embedding")


def _recall(approx, exact, k, n_q):
    hits = approx.join(
        exact.select("qid", "nn_id"), ["qid", "nn_id"], "left_semi"
    ).count()
    return hits / (n_q * k)


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_recall_vs_exact(spark, emb, q, metric):
    """Each metric's IVF route must recover most of the exact top-10.
    The 500-row testdata base is IVF's worst case (sqrt-N centroids =
    22, lists of ~23), so the floor here is deliberately below the
    phase-0 swap gate in test_graph.py — the graph phases heal phase-0
    approximation, and THAT composite is what ships."""
    n = emb.count()
    exact = knn_join(q, emb, 10, metric)
    approx = ivf_knn_join(q, emb, 10, metric, n_probe=8)
    assert _recall(approx, exact, 10, n) >= 0.70


def test_probe_widening_monotone(spark, emb, q):
    """More probes -> recall must not drop (the IVF contract: n_probe =
    n_centroids degenerates to the exact join)."""
    n = emb.count()
    exact = knn_join(q, emb, 10, "l2")
    r4 = _recall(ivf_knn_join(q, emb, 10, "l2", n_probe=4), exact, 10, n)
    r16 = _recall(ivf_knn_join(q, emb, 10, "l2", n_probe=16), exact, 10, n)
    assert r16 >= r4
    assert r16 >= 0.85


def test_full_probe_equals_exact(spark, emb, q):
    """Probing every centroid IS the exact join — same ids, same ranks,
    same distances (bit-for-bit: both paths score float64 GEMMs)."""
    n_cent = 8
    exact = knn_join(q, emb, 5, "l2")
    full = ivf_knn_join(q, emb, 5, "l2", n_centroids=n_cent, n_probe=n_cent)
    diff = (
        full.select("qid", "nn_id", "rank", F.round("dist", 9).alias("d"))
        .exceptAll(
            exact.select("qid", "nn_id", "rank", F.round("dist", 9).alias("d"))
        )
        .count()
    )
    assert diff == 0


def test_rank_contract_and_tiebreak(spark, emb, q):
    """rank is 1..k dense per qid, ordered by (dist, nn_id) ascending —
    knn_join's deterministic tiebreak (reference neighbor.h:29-31)."""
    res = ivf_knn_join(q, emb, 10, "l2", n_probe=8).collect()
    per_q = {}
    for r in res:
        per_q.setdefault(r["qid"], []).append((r["rank"], r["dist"], r["nn_id"]))
    for rows in per_q.values():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        keys = [(r[1], r[2]) for r in rows]
        assert keys == sorted(keys)


def test_exclude_self(spark, emb, q):
    res = ivf_knn_join(q, emb, 5, "l2", n_probe=8, exclude_self=True)
    assert res.where(F.col("qid") == F.col("nn_id")).count() == 0


def test_deterministic_across_runs(spark, emb, q):
    a = ivf_knn_join(q, emb, 10, "l2", n_probe=8)
    b = ivf_knn_join(q, emb, 10, "l2", n_probe=8)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_arrays_shape(spark, emb, q):
    """List form matches the reference's LoadLearnBaseKNN consumption:
    rank-ordered nn/dists arrays, one row per query."""
    arr = ivf_knn_join_arrays(q.where("qid < 50"), emb, 10, "l2", n_probe=8)
    rows = arr.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r["nn"]) == len(r["dists"]) == 10
        assert list(r["dists"]) == sorted(r["dists"])


def test_empty_query_side(spark, emb):
    empty = emb.where("vec_id < 0").select(F.col("vec_id").alias("qid"), "embedding")
    assert ivf_knn_join(empty, emb, 5, "l2").count() == 0


def test_empty_path_does_not_mutate_shared_schema(spark, emb, q):
    """Regression: the empty-input early return once built its 4-field
    schema via ``_CAND_SCHEMA.add(...)``, which mutates the shared
    module-level StructType in place — every later knn/ivf join in the
    process would then run mapInPandas against a 4-field schema while the
    kernels yield 3 columns. The empty path must leave _CAND_SCHEMA at 3
    fields and a subsequent non-empty join must still work."""
    from mysteryann_spark.operators.knn import _CAND_SCHEMA, knn_join

    empty = emb.where("vec_id < 0").select(F.col("vec_id").alias("qid"), "embedding")
    assert ivf_knn_join(empty, emb, 5, "l2").count() == 0
    assert knn_join(empty, emb, 5, "l2").count() == 0
    assert len(_CAND_SCHEMA.fields) == 3
    after = ivf_knn_join(q.where("qid < 5"), emb, 3, "l2", n_probe=4)
    assert after.count() == 15  # 5 queries x k=3 — kernel schema intact


def test_routing_trainer_goes_hierarchical_above_threshold(emb, monkeypatch):
    """Above _FLAT_KMEANS_MAX the coarse trainer must return the
    two-level route (the flat Lloyd pass is the measured ~23 h / ~2.4 h
    wall at the 163,840-list 10^8 geometry — SCALE.md r11); below it the
    flat path and its None route are unchanged. Routing space as
    ivf_knn_join trains it for l2: raw vectors."""
    from mysteryann_spark.operators import similarity
    from mysteryann_spark.operators.similarity import train_coarse

    def train(n_centroids, **kw):
        return train_coarse(
            emb, n_centroids, 5, 42, 4096, "vec_id", "embedding",
            normalize=False, **kw,
        )

    monkeypatch.setattr(similarity, "_FLAT_KMEANS_MAX", 8)
    cmat, route = train(16, branch=4)
    assert route is not None
    l1_32, indptr = route
    assert len(cmat) == 16
    assert indptr[0] == 0 and indptr[-1] == len(cmat)
    assert len(indptr) == len(l1_32) + 1

    cmat_flat, route_flat = train(8)
    assert route_flat is None and len(cmat_flat) == 8


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_ivf_join_routed_recall(spark, emb, q, metric):
    """hierarchical=True must keep the recall floor for every metric:
    assignment routes two-level always, probing routes for l2 and cosine
    (L2 in routing space, the assignment rule) and stays an exact
    dot-product GEMM for ip (its centroid ranking depends on dot
    products the L2 route does not order by)."""
    from mysteryann_spark.operators.knn import knn_join

    n = emb.count()
    exact = knn_join(q, emb, 10, metric)
    approx = ivf_knn_join(
        q, emb, 10, metric, n_probe=8, hierarchical=True, branch=4
    )
    assert _recall(approx, exact, 10, n) >= 0.70


@pytest.mark.parametrize(
    "kw", [{}, {"hierarchical": True, "branch": 4}], ids=["flat", "hierarchical"]
)
def test_cosine_self_probe_finds_itself(spark, emb, q, kw):
    """A cosine query probes by the same rule its own vector was assigned
    by (L2 in routing space), so with one probe every base vector finds
    itself at rank 1. Ranking centroids by angle instead sends a query
    near a list boundary to a neighbouring list."""
    res = ivf_knn_join(q, emb, 1, "cosine", n_probe=1, **kw)
    missed = res.where(F.col("qid") != F.col("nn_id")).count()
    assert res.count() == emb.count() and missed == 0
