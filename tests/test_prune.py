"""Occlusion-prune kernel vs an independent naive implementation.

The naive check re-states the reference rule (src/index_bipartite.cpp:
1637-1656) directly: scanning candidates in (dist, id) order, c is kept
iff no earlier-kept r has d(c, r) < d(c, tgt); then nearest-first backfill.
"""

import numpy as np

from mysteryann_spark.functions.vector import np_distances
from mysteryann_spark.operators.prune import occlusion_prune_np


def naive_prune(ids, dists, vecs, m, metric="l2"):
    order = sorted(range(len(ids)), key=lambda i: (dists[i], ids[i]))
    kept = []
    for i in order:
        if len(kept) >= m:
            break
        ok = True
        for j in kept:
            d_ij = np_distances(metric, vecs[i][None], vecs[j][None])[0, 0]
            if d_ij < dists[i]:
                ok = False
                break
        if ok:
            kept.append(i)
    for i in order:
        if len(kept) >= m:
            break
        if i not in kept:
            kept.append(i)
    return [int(ids[i]) for i in kept]


def test_prune_matches_naive():
    rng = np.random.default_rng(42)
    for trial in range(20):
        n = int(rng.integers(3, 60))
        vecs = rng.normal(size=(n, 16))
        tgt = rng.normal(size=(1, 16))
        ids = rng.choice(10_000, size=n, replace=False).astype(np.int64)
        dists = np_distances("l2", tgt, vecs)[0]
        m = int(rng.integers(2, 12))
        got = occlusion_prune_np(ids, dists, vecs, m, "l2")
        want = naive_prune(ids, dists, vecs, m)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_prune_dedups_and_caps():
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(10, 8))
    ids = np.array([5, 5, 7, 8, 9, 9, 11, 12, 13, 14], dtype=np.int64)
    tgt = rng.normal(size=(1, 8))
    dists = np_distances("l2", tgt, vecs)[0]
    out = occlusion_prune_np(ids, dists, vecs, 4, "l2")
    assert len(out) == 4
    assert len(set(out)) == 4


def test_prune_empty():
    assert occlusion_prune_np(
        np.array([], dtype=np.int64), np.array([]), np.zeros((0, 4)), 5
    ) == []


# --- hypothesis property tests ---------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def pools(draw):
    n = draw(st.integers(1, 40))
    dim = draw(st.integers(2, 12))
    flat = draw(
        st.lists(
            st.floats(-8, 8, allow_nan=False, width=32),
            min_size=n * dim, max_size=n * dim,
        )
    )
    vecs = np.array(flat, dtype=np.float64).reshape(n, dim)
    ids = np.array(draw(st.permutations(range(n))), dtype=np.int64)
    m = draw(st.integers(1, 16))
    return ids, vecs, m


@given(pools())
@settings(max_examples=60, deadline=None)
def test_prune_properties(pool):
    """Invariants for ANY pool: kept ⊆ input, deduped, |kept| = min(m,
    distinct), metric-equal to the naive restatement, and the closest
    candidate always survives."""
    ids, vecs, m = pool
    tgt = np.zeros((1, vecs.shape[1]))
    dists = np_distances("l2", tgt, vecs)[0]
    got = occlusion_prune_np(ids, dists, vecs, m, "l2")
    assert set(got) <= set(ids.tolist())
    assert len(got) == len(set(got)) == min(m, len(set(ids.tolist())))
    assert got == naive_prune(ids, dists, vecs, m)
    first = min(zip(dists, ids))[1]
    assert int(first) in got


# --- round 12: whole-batch kernel parity --------------------------------


def test_batched_distances_bitwise():
    """The batch kernel's load-bearing assumption: batched matmul/einsum
    over same-shape slices is BITWISE identical to the per-slice 2-D
    calls (padding or dim changes would flip last bits and with them
    occlusion tie decisions)."""
    from mysteryann_spark.operators.prune import _batched_l2_like

    rng = np.random.default_rng(3)
    for metric in ("l2", "ip", "cosine"):
        for k in (3, 17, 64):
            mats = [np.ascontiguousarray(rng.normal(size=(k, 48))) for _ in range(9)]
            batch = np.stack(mats)
            got = _batched_l2_like(metric, batch, batch)
            for i, m in enumerate(mats):
                want = np_distances(metric, m, m)
                assert np.array_equal(got[i], want), (metric, k, i)


def test_batch_matches_scalar_kernel():
    """occlusion_prune_batch == the occlusion_prune_np loop, element for
    element and in output ORDER, across metrics, duplicate candidates,
    empty pools and the pool_cap truncation."""
    from mysteryann_spark.operators.prune import occlusion_prune_batch

    rng = np.random.default_rng(11)
    n = 300
    for metric in ("l2", "ip", "cosine"):
        mat = rng.normal(size=(n, 32))
        pools, tgt_rows = [], []
        for _ in range(120):
            k = int(rng.integers(0, 50))
            ids = rng.integers(0, n, size=k)  # duplicates allowed
            node = int(rng.integers(0, n))
            pools.append(ids[ids != node].astype(np.int64))
            tgt_rows.append(node)
        tgt_rows = np.asarray(tgt_rows, dtype=np.int64)
        flat = (
            np.concatenate(pools) if pools else np.empty(0, dtype=np.int64)
        )
        m = int(rng.integers(1, 10))
        got = occlusion_prune_batch(
            pools, tgt_rows, flat, mat, m, metric, pool_cap=24
        )
        for b, ids in enumerate(pools):
            vecs = mat[ids]
            tgt = mat[tgt_rows[b]][None, :]
            dists = (
                np_distances(metric, tgt, vecs)[0]
                if len(ids)
                else np.empty(0)
            )
            want = occlusion_prune_np(ids, dists, vecs, m, metric, pool_cap=24)
            assert [int(x) for x in got[b]] == [int(x) for x in want], (
                metric, b,
            )


def test_prune_candidates_partition_invariant(spark, emb, monkeypatch):
    """r12 kernel-stage parallelism: prune_candidates derives its groupBy
    partition count from the staged-base size instead of AQE's byte-based
    coalesce (which serialized the kernel on one task). The adjacency must
    be IDENTICAL at 1 partition and at many — pool assembly order differs
    across partitionings, and the kernel's (dist,id) sort must erase it."""
    from pyspark.sql import functions as F

    from mysteryann_spark.operators import prune
    from mysteryann_spark.operators.prune import prune_candidates

    cands = (
        emb.select(F.col("vec_id").alias("node"))
        .crossJoin(emb.select(F.col("vec_id").alias("cand_id")))
        .where((F.col("cand_id") % 7 == F.col("node") % 7) & (F.col("cand_id") != F.col("node")))
    )

    def run():
        rows = prune_candidates(cands, emb, m=8, metric="l2").collect()
        return {r["node"]: list(r["nbrs"]) for r in rows}

    monkeypatch.setattr(prune, "_PRUNE_NODES_PER_TASK", 1000000000)
    one_task = run()
    monkeypatch.setattr(prune, "_PRUNE_NODES_PER_TASK", 16)
    many_tasks = run()
    assert one_task == many_tasks
    assert len(one_task) > 0
