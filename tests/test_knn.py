"""Exact kNN join + medoid vs driver-side numpy brute force."""

import numpy as np
from pyspark.sql import functions as F

from mysteryann_spark.functions.vector import np_distances
from mysteryann_spark.operators.knn import knn_join, knn_join_arrays, medoid


def _matrix(emb):
    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r[0])
    return np.array([r[0] for r in rows]), np.stack(
        [np.asarray(r[1], dtype=np.float64) for r in rows]
    )


def test_knn_matches_bruteforce(spark, emb):
    ids, mat = _matrix(emb)
    q = emb.where("vec_id < 10").select(F.col("vec_id").alias("qid"), "embedding")
    got = knn_join(q, emb, 5, "l2").collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["nn_id"], r["dist"]))
    D = np_distances("l2", mat[:10], mat)
    for qi in range(10):
        order = sorted(range(len(ids)), key=lambda j: (D[qi, j], ids[j]))[:5]
        want = [int(ids[j]) for j in order]
        rows = sorted(by_q[qi])
        assert [nn for _, nn, _ in rows] == want
        for (_, _, dist), j in zip(rows, order):
            assert abs(dist - D[qi, j]) < 1e-9


def test_knn_arrays_shape(spark, emb):
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("qid"), "embedding")
    out = knn_join_arrays(q, emb, 7, "cosine").collect()
    assert len(out) == 5
    for r in out:
        assert len(r["nn"]) == 7 and len(r["dists"]) == 7
        assert r["dists"] == sorted(r["dists"])  # rank-ordered, minimizing


def test_knn_exclude_self(spark, emb):
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("qid"), "embedding")
    out = knn_join(q, emb, 3, "l2", exclude_self=True).collect()
    assert all(r["nn_id"] != r["qid"] for r in out)


def test_medoid_matches_numpy(spark, emb):
    ids, mat = _matrix(emb)
    cent = mat.mean(axis=0)
    d = ((mat - cent) ** 2).sum(axis=1)
    want = int(ids[np.lexsort((ids, d))[0]])
    mid, dist = medoid(emb)
    assert mid == want
    assert abs(dist - d.min()) < 1e-9


def test_knn_join_blocked_equals_single_broadcast(spark, emb):
    """Blocked query streaming (the unbounded-Q scale path) must be
    result-identical to the one-shot broadcast."""
    q = emb.where("vec_id < 37").select(F.col("vec_id").alias("qid"), "embedding")
    # GEMM float noise differs by block shape (an exact 0 can render as
    # ~2e-16) — ids/ranks must match exactly, dists to 9 decimals
    r9 = lambda rows: sorted(  # noqa: E731
        (r["qid"], r["nn_id"], round(r["dist"], 9), r["rank"]) for r in rows
    )
    one = r9(knn_join(q, emb, 5, "l2").collect())
    blk = r9(knn_join(q, emb, 5, "l2", query_block_rows=7).collect())
    assert one == blk
    # exclude_self must also hold per block
    one_x = r9(knn_join(q, emb, 5, "l2", exclude_self=True).collect())
    blk_x = r9(knn_join(q, emb, 5, "l2", exclude_self=True, query_block_rows=10).collect())
    assert one_x == blk_x


def test_dmat_chunk_rows_bounds_every_geometry():
    """The shared chunk sizer keeps one scratch matrix under the
    ``_DMAT_BUDGET_BYTES`` budget at every geometry — including the
    256k-centroid float32 10^8 assignment the old cell-count floor
    over-allocated 4x on."""
    from mysteryann_spark.operators.knn import _DMAT_BUDGET_BYTES, dmat_chunk_rows

    for n_cols, itemsize in ((256_000, 4), (25_600, 4), (1_024_000, 8), (3, 8)):
        rows = dmat_chunk_rows(n_cols, itemsize)
        assert rows >= 1
        assert rows == 1 or rows * n_cols * itemsize <= _DMAT_BUDGET_BYTES


def test_block_topk_chunking_is_exact_at_any_budget(monkeypatch):
    """``_block_topk`` and ``_block_range`` chunk the query axis under
    ``_DMAT_BUDGET_BYTES``; at a budget of 1-3 rows per chunk (with a
    partial last chunk) no distance block may exceed the budget, and each
    kernel must yield the unchunked result — top-k row for row, range as
    the same pair set — with and without ``exclude_self`` and with a
    ``qrows`` subset. Every row sits in one list, as ``_inverted_lists``
    and ``_list_runs`` lay it out when ``match_col`` is None.
    In-process, no Spark: the budget is read inside the Python worker,
    where a driver-side patch would not reach. GEMM float noise differs
    by chunk shape (OpenBLAS rounds a row differently at another row
    count), so ids must match exactly and dists to 1e-12 relative."""
    import pandas as pd

    from mysteryann_spark.operators import knn

    rng = np.random.default_rng(5)
    nq, nb, dim, k, radius = 11, 37, 8, 5, 10.0
    qids = np.arange(nq, dtype=np.int64) * 3  # some qids are base ids
    qmat = rng.standard_normal((nq, dim))
    bids = np.arange(nb, dtype=np.int64)
    bmat = rng.standard_normal((nb, dim))
    inv = knn._inverted_lists(np.zeros(nq, dtype=np.int64))
    [(brows, one_list)] = knn._list_runs(inv, np.zeros(nb, dtype=np.int64))
    assert brows == slice(0, nb) and np.array_equal(one_list, np.arange(nq))
    cases = [
        dict(exclude_self=False, qrows=one_list),
        dict(exclude_self=True, qrows=one_list),
        dict(exclude_self=False, qrows=np.array([0, 2, 3, 7, 10])),
    ]
    blocks = []
    np_distances = knn.np_distances

    def recorded(metric, q, b):
        blocks.append(q.shape[0] * b.shape[0] * 8)
        return np_distances(metric, q, b)

    monkeypatch.setattr(knn, "np_distances", recorded)

    def frames(kernel, kw):
        if kernel == "topk":
            out = list(knn._block_topk(qids, qmat, bids, bmat, k, "l2", **kw))
        else:
            out = list(knn._block_range(qids, qmat, bids, bmat, radius, "l2", **kw))
        df = pd.concat(out, ignore_index=True)
        return len(out), df.sort_values(["qid", "nn_id"], ignore_index=True)

    for kernel in ("topk", "range"):
        for kw in cases:
            n_whole, whole = frames(kernel, kw)
            assert n_whole == 1
            n_sel = len(kw["qrows"])
            if kernel == "topk":
                assert len(whole) == n_sel * k
            else:
                assert 0 < len(whole) < n_sel * nb
            for rows in (1, 2, 3):
                budget = rows * 8 * nb
                with monkeypatch.context() as m:
                    m.setattr(knn, "_DMAT_BUDGET_BYTES", budget)
                    assert knn.dmat_chunk_rows(nb) == rows
                    blocks.clear()
                    n_chunks, chunked = frames(kernel, kw)
                tag = (kernel, rows, kw["exclude_self"], n_sel)
                assert len(blocks) == -(-n_sel // rows) and max(blocks) <= budget, tag
                if kernel == "topk":
                    assert n_chunks == len(blocks), tag
                assert len(chunked) == len(whole), tag
                assert np.array_equal(chunked["qid"], whole["qid"]), tag
                assert np.array_equal(chunked["nn_id"], whole["nn_id"]), tag
                np.testing.assert_allclose(chunked["dist"], whole["dist"], rtol=1e-12, atol=0)


def test_match_col_must_be_integer(spark, emb):
    """knn_join and range_join both reject a non-integer ``match_col``
    at plan time, before any job runs."""
    import pytest

    from mysteryann_spark.operators.knn import range_join

    e = emb.select("vec_id", "embedding", F.col("vec_id").cast("string").alias("label"))
    q = e.where("vec_id < 5").withColumnRenamed("vec_id", "qid")
    q_arr = q.withColumn("label", F.array("label"))  # array<string>
    for queries in (q, q_arr):
        with pytest.raises(TypeError, match="must be an integer type"):
            knn_join(queries, e, 3, match_col="label")
        with pytest.raises(TypeError, match="must be an integer type"):
            range_join(queries, e, 1.0, match_col="label")


def test_array_match_col_matches_masked_bruteforce(spark, emb):
    """An integer-array ``match_col`` on the query side: a query competes
    for every base row holding ANY of its labels, in knn_join and
    range_join alike, checked against a masked numpy brute force. A
    repeated label counts once (no duplicate neighbor or pair), an
    empty array gets no rows back, and a label only the query holds
    adds nothing."""
    from mysteryann_spark.operators.knn import range_join

    ids, mat = _matrix(emb)
    base = emb.select("vec_id", "embedding", (F.col("vec_id") % 5).cast("int").alias("lab"))
    blabs = ids % 5
    qlabs = {0: [], 1: [1, 1], 2: [0, 2], 3: [3], 4: [4, 7], 5: [2, 2, 0, 9]}
    qlabs.update({i: [i % 5] for i in range(6, 12)})
    q = spark.createDataFrame(
        [(int(ids[i]), [float(x) for x in mat[i]], qlabs[i]) for i in qlabs],
        "qid bigint, embedding array<float>, lab array<int>",
    )
    D = np_distances("l2", mat[: len(qlabs)], mat)
    D[np.arange(len(qlabs)), np.arange(len(qlabs))] = np.inf  # exclude_self
    allowed = np.stack([np.isin(blabs, qlabs[i]) for i in range(len(qlabs))])
    Dm = np.where(allowed, D, np.inf)
    radius = float(np.quantile(D[np.isfinite(D)], 0.02))

    got = {}
    for r in knn_join(q, base, 5, "l2", exclude_self=True, match_col="lab").collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["nn_id"], r["dist"]))
    assert int(ids[0]) not in got
    for qi in range(1, len(qlabs)):
        order = sorted(np.flatnonzero(np.isfinite(Dm[qi])), key=lambda j: (Dm[qi, j], ids[j]))[:5]
        rows = sorted(got[int(ids[qi])])
        assert [nn for _, nn, _ in rows] == [int(ids[j]) for j in order], qi
        for (_, _, dist), j in zip(rows, order):
            assert abs(dist - Dm[qi, j]) < 1e-9

    pairs = [
        (r["qid"], r["nn_id"], r["dist"])
        for r in range_join(
            q, base, radius, "l2", exclude_self=True, match_col="lab"
        ).collect()
    ]
    want = {(int(ids[qi]), int(ids[j])): Dm[qi, j] for qi, j in zip(*np.nonzero(Dm <= radius))}
    assert len(pairs) == len(set((a, b) for a, b, _ in pairs))
    assert {(a, b) for a, b, _ in pairs} == set(want)
    # the repeated-label queries are exercised
    assert {a for a, _ in want} >= {int(ids[1]), int(ids[5])}
    for a, b, dist in pairs:
        assert abs(dist - want[(a, b)]) < 1e-9


def test_knn_join_ties_at_k_boundary_break_by_id(spark):
    """Rows tied at the k-th distance are ordered by nn_id, as rank_topk
    documents: the local top-k keeps every candidate tied with its last
    one instead of an arbitrary subset of them."""
    q = spark.createDataFrame([(100, [1.0, 0.0])], "qid long, embedding array<double>")
    base = spark.createDataFrame(
        [(i, [0.0, 1.0]) for i in range(6)], "vec_id long, embedding array<double>"
    ).coalesce(1)
    for metric in ("l2", "cosine"):
        rows = sorted(knn_join(q, base, 4, metric).collect(), key=lambda r: r["rank"])
        assert [r["nn_id"] for r in rows] == [0, 1, 2, 3], metric


def test_array_match_col_on_base_side_matches_masked_bruteforce(spark, emb):
    """An integer-array ``match_col`` on the base side, with a scalar or
    an array on the query side: a pair competes when the rows share ANY
    value, in knn_join and range_join alike, checked against a masked
    numpy brute force. A value repeated in a base array counts once (no
    duplicate neighbor or pair, and no top-k slot lost to a repeat), and
    a base row with an empty array matches nothing."""
    from mysteryann_spark.operators.knn import range_join

    ids, mat = _matrix(emb)
    vid = F.col("vec_id")
    base = emb.select(
        "vec_id",
        "embedding",
        F.when(vid % 7 == 0, F.array().cast("array<int>"))
        .otherwise(F.array(vid % 5, vid % 5, vid % 3 + 5).cast("array<int>"))
        .alias("lab"),
    )
    blabs = [set() if i % 7 == 0 else {i % 5, i % 3 + 5} for i in ids]
    n_q = 12
    q_scalar = {i: [i % 9] for i in range(n_q)}  # label 8 is on no base row
    q_array = {i: [[], [1, 1], [0, 6], [3], [4, 9], [2, 2, 7]][i % 6] for i in range(n_q)}
    D = np_distances("l2", mat[:n_q], mat)
    D[np.arange(n_q), np.arange(n_q)] = np.inf  # exclude_self
    radius = float(np.quantile(D[np.isfinite(D)], 0.02))
    for qlabs, dtype in ((q_scalar, "int"), (q_array, "array<int>")):
        q = spark.createDataFrame(
            [
                (int(ids[i]), [float(x) for x in mat[i]], qlabs[i] if dtype != "int" else qlabs[i][0])
                for i in qlabs
            ],
            f"qid bigint, embedding array<float>, lab {dtype}",
        )
        allowed = np.array([[bool(set(qlabs[i]) & b) for b in blabs] for i in range(n_q)])
        Dm = np.where(allowed, D, np.inf)

        got = {}
        for r in knn_join(q, base, 5, "l2", exclude_self=True, match_col="lab").collect():
            got.setdefault(r["qid"], []).append((r["rank"], r["nn_id"], r["dist"]))
        for qi in range(n_q):
            order = sorted(np.flatnonzero(np.isfinite(Dm[qi])), key=lambda j: (Dm[qi, j], ids[j]))[:5]
            rows = sorted(got.get(int(ids[qi]), []))
            assert [nn for _, nn, _ in rows] == [int(ids[j]) for j in order], (dtype, qi)
            for (_, _, dist), j in zip(rows, order):
                assert abs(dist - Dm[qi, j]) < 1e-9

        pairs = [
            (r["qid"], r["nn_id"], r["dist"])
            for r in range_join(
                q, base, radius, "l2", exclude_self=True, match_col="lab"
            ).collect()
        ]
        want = {(int(ids[qi]), int(ids[j])): Dm[qi, j] for qi, j in zip(*np.nonzero(Dm <= radius))}
        assert want, dtype
        assert len(pairs) == len({(a, b) for a, b, _ in pairs})
        assert {(a, b) for a, b, _ in pairs} == set(want)
        for a, b, dist in pairs:
            assert abs(dist - want[(a, b)]) < 1e-9
