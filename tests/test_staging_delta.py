"""Delta-staged adjacency: `read_staged_multi` later-paths-override
semantics, and bit-parity of `search_graph` through a [full, delta]
staged adjacency vs the equivalently merged single staging — the
read-side half of per-batch maintenance staging cost ∝ |batch|
(SCALE.md names the O(|graph|) per-batch republish as the measured
floor of insert walls at 10^7)."""

import pytest
from pyspark.sql import functions as F

from mysteryann_spark.operators.projection import build_roargraph_from_table
from mysteryann_spark.operators.search import search_graph, stage_graph_index
from mysteryann_spark.params import IndexParams
from mysteryann_spark.sources.staging import read_staged_multi, stage_parquet

PARAMS = IndexParams(M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="l2")


def _adj_df(spark, rows):
    return spark.createDataFrame(rows, "node bigint, nbrs array<bigint>")


def test_read_staged_multi_override(spark):
    full = _adj_df(spark, [(0, [1, 2]), (1, [0]), (2, [0, 1]), (3, [2])])
    delta = _adj_df(spark, [(1, [2, 3]), (4, [0])])
    paths = [stage_parquet(full), stage_parquet(delta)]
    tbl = read_staged_multi(paths)
    got = {
        int(n): list(map(int, nb))
        for n, nb in zip(tbl["node"].to_pylist(), tbl["nbrs"].to_pylist())
    }
    assert got == {0: [1, 2], 1: [2, 3], 2: [0, 1], 3: [2], 4: [0]}


def test_read_staged_multi_single_path_identity(spark):
    full = _adj_df(spark, [(0, [1]), (1, [0])])
    p = stage_parquet(full)
    assert read_staged_multi([p]).equals(read_staged_multi(p))


def test_read_staged_multi_last_path_wins_across_three(spark):
    a = _adj_df(spark, [(0, [1]), (1, [0])])
    b = _adj_df(spark, [(0, [2])])
    c = _adj_df(spark, [(0, [3]), (2, [0])])
    tbl = read_staged_multi([stage_parquet(a), stage_parquet(b), stage_parquet(c)])
    got = {
        int(n): list(map(int, nb))
        for n, nb in zip(tbl["node"].to_pylist(), tbl["nbrs"].to_pylist())
    }
    assert got == {0: [3], 1: [0], 2: [0]}


@pytest.fixture(scope="module")
def built(spark, emb):
    adj, ep = build_roargraph_from_table(spark, emb, PARAMS)
    return adj.localCheckpoint(), ep


def test_search_parity_delta_vs_merged_adjacency(spark, emb, built):
    """Mutate 20 nodes' lists, search through (a) the merged adjacency
    staged whole and (b) [original, delta-of-changed-rows] — results
    must be bit-identical (same ids, dists, ranks, counters)."""
    adj, ep = built
    changed = adj.where(F.col("node") < 20).select(
        "node", F.expr("slice(nbrs, 1, greatest(1, size(nbrs) - 2))").alias("nbrs")
    ).localCheckpoint()
    merged = adj.where(F.col("node") >= 20).unionByName(changed).localCheckpoint()

    q = emb.where("vec_id % 25 = 0").select(F.col("vec_id").alias("qid"), "embedding")
    base_path, adj_full_path = stage_graph_index(emb, adj)
    merged_path = stage_parquet(merged)
    delta_path = stage_parquet(changed)

    res_merged = search_graph(
        q, emb, merged, ep, k=10, l_search=PARAMS.L_pq, metric="l2",
        staged=(base_path, merged_path),
    ).collect()
    res_delta = search_graph(
        q, emb, merged, ep, k=10, l_search=PARAMS.L_pq, metric="l2",
        staged=(base_path, [adj_full_path, delta_path]),
    ).collect()

    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    a = sorted(((r["qid"], r["rank"], r["nn_id"], r["dist"], r["cmps"], r["hops"])
                for r in res_merged))
    b = sorted(((r["qid"], r["rank"], r["nn_id"], r["dist"], r["cmps"], r["hops"])
                for r in res_delta))
    assert a == b and len(a) > 0


def test_insert_delta_stages_like_merged(spark, emb, built):
    """The maintenance fast path end-to-end: insert a batch with
    return_delta=True, stage ONLY the delta, and search through
    [pre-insert adjacency, delta] — bit-identical to searching the
    merged adjacency staged whole, and the delta row set is exactly
    the new nodes plus the reverse-touched nodes."""
    from mysteryann_spark.operators.projection import insert_into_roargraph

    adj, ep = built
    new = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    ).where("vec_id < 100030")
    merged, ep2, delta = insert_into_roargraph(
        emb, adj, ep, new, PARAMS, return_delta=True)
    merged = merged.localCheckpoint()
    delta = delta.localCheckpoint()

    delta_nodes = {r["node"] for r in delta.select("node").collect()}
    assert {r["vec_id"] for r in new.select("vec_id").collect()} <= delta_nodes
    # delta ∪ untouched == merged, with delta overriding
    assert merged.count() == adj.count() + 30
    assert delta.count() == len(delta_nodes)

    all_vec = emb.select("vec_id", "embedding").unionByName(new)
    base_path, adj_full_path = stage_graph_index(all_vec, adj)
    q = all_vec.where("vec_id % 40 = 0").select(
        F.col("vec_id").alias("qid"), "embedding")
    res_m = search_graph(
        q, all_vec, merged, ep2, k=10, l_search=PARAMS.L_pq, metric="l2",
        staged=(base_path, stage_parquet(merged)),
    ).collect()
    res_d = search_graph(
        q, all_vec, merged, ep2, k=10, l_search=PARAMS.L_pq, metric="l2",
        staged=(base_path, [adj_full_path, stage_parquet(delta)]),
    ).collect()
    a = sorted(((r["qid"], r["rank"], r["nn_id"], r["dist"], r["cmps"], r["hops"])
                for r in res_m))
    b = sorted(((r["qid"], r["rank"], r["nn_id"], r["dist"], r["cmps"], r["hops"])
                for r in res_d))
    assert a == b and len(a) > 0


def test_patch_matrix_and_csr_vs_dict_reference():
    """Randomized parity of the incremental-artifact patch kernels
    (staging._patch_matrix / _patch_csr) against a plain dict-merge
    reference: overrides, inserts, interleaved ids, empty (tombstone)
    lists, and the old-row remap all at once."""
    import numpy as np

    from mysteryann_spark.sources.staging import _patch_csr, _patch_matrix

    rng = np.random.default_rng(0)
    for trial in range(100):
        n = int(rng.integers(2, 40))
        ids = np.sort(rng.choice(1000, size=n, replace=False)).astype(np.int64)
        mat = rng.standard_normal((n, 3))
        nd = int(rng.integers(0, 10))
        d_ids = np.sort(rng.choice(1000, size=nd, replace=False)).astype(np.int64)
        d_mat = rng.standard_normal((nd, 3))
        ids2, mat2, old_dest = _patch_matrix(ids, mat, d_ids, d_mat)
        ref = {int(i): mat[k] for k, i in enumerate(ids)}
        for k, i in enumerate(d_ids):
            ref[int(i)] = d_mat[k]
        rids = np.array(sorted(ref), dtype=np.int64)
        assert np.array_equal(ids2, rids)
        assert np.array_equal(mat2, np.stack([ref[int(i)] for i in rids]))
        assert np.array_equal(ids2[old_dest], ids)

        n2 = len(ids2)
        lens = rng.integers(0, 5, size=n)
        indices = (
            np.concatenate([rng.integers(0, n, size=l) for l in lens])
            if lens.sum() else np.empty(0, np.int64)
        ).astype(np.int64)
        indptr = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
        nda = int(rng.integers(0, 8))
        pool = np.concatenate([ids, d_ids]) if nd else ids
        dnode_ids = rng.choice(pool, size=min(nda, len(pool)), replace=False)
        d_rows, d_len, d_flat = [], [], []
        for nid in dnode_ids:
            r = int(np.searchsorted(ids2, nid))
            l = int(rng.integers(0, 4))
            d_rows.append(r)
            d_len.append(l)
            d_flat.extend(rng.integers(0, n2, size=l).tolist())
        d_rowsA = np.array(d_rows, dtype=np.int64)
        d_lenA = np.array(d_len, dtype=np.int64)
        d_flatA = np.array(d_flat, dtype=np.int64)
        ip2, ix2 = _patch_csr(old_dest, n2, indptr, indices, d_rowsA, d_lenA, d_flatA)
        ref_lists = {
            int(old_dest[r]): [int(old_dest[x]) for x in indices[indptr[r]:indptr[r+1]]]
            for r in range(n)
        }
        full = {r: ref_lists.get(r, []) for r in range(n2)}
        offs = np.concatenate([[0], np.cumsum(d_lenA)])
        for k, r in enumerate(d_rows):
            full[int(r)] = d_flatA[offs[k]:offs[k] + d_len[k]].tolist()
        ref_ip = np.concatenate([[0], np.cumsum([len(full[r]) for r in range(n2)])])
        ref_ix = np.array(
            [x for r in range(n2) for x in full[r]], dtype=np.int64
        )
        assert np.array_equal(ip2, ref_ip)
        assert np.array_equal(ix2, ref_ix)


def test_incremental_graph_artifact_matches_cold_rebuild(
    spark, emb, built, tmp_path, monkeypatch
):
    """Deterministic coverage of load_staged_graph's PATCH branch: build
    the prefix artifact in this process (warming the module LRU), then
    load the extended chain — the prefix must be found and patched, and
    the result must be bit-identical to a cold full rebuild (an empty
    host-shared store, so the cold load cannot map the patched publish)."""
    import numpy as np

    from mysteryann_spark.sources import staging
    from mysteryann_spark.sources.staging import load_staged_graph

    adj, ep = built
    b0 = stage_parquet(emb.select("vec_id", "embedding"))
    a0 = stage_parquet(adj)
    new = emb.select(
        (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
    ).where("vec_id < 200015")
    b1 = stage_parquet(new)
    delta = adj.where("node < 10").select(
        "node", F.expr("slice(nbrs, 1, greatest(1, size(nbrs) - 1))").alias("nbrs")
    )
    a1 = stage_parquet(delta)

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "warm"))
    staging._CACHE.clear()
    prefix = load_staged_graph([b0], [a0], "vec_id", "embedding")
    key = staging._graph_key([b0], [a0], "vec_id", "embedding")
    assert key in staging._CACHE
    patched = load_staged_graph([b0, b1], [a0, a1], "vec_id", "embedding")

    staging._CACHE.clear()
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "cold"))
    cold = load_staged_graph([b0, b1], [a0, a1], "vec_id", "embedding")
    for got, want in zip(patched, cold):
        assert np.array_equal(np.asarray(got), np.asarray(want))
    # the patched ids must be the union, and prefix rows must survive
    assert len(patched[0]) == len(prefix[0]) + 15


def test_incremental_matrix_artifact_matches_cold_rebuild(
    spark, emb, tmp_path, monkeypatch
):
    import numpy as np

    from mysteryann_spark.sources import staging
    from mysteryann_spark.sources.staging import load_staged_matrix

    b0 = stage_parquet(emb.select("vec_id", "embedding"))
    override = emb.where("vec_id < 5").select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    b1 = stage_parquet(override)

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "warm"))
    staging._CACHE.clear()
    load_staged_matrix([b0], "vec_id", "embedding")
    patched = load_staged_matrix([b0, b1], "vec_id", "embedding")
    staging._CACHE.clear()
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "cold"))
    cold = load_staged_matrix([b0, b1], "vec_id", "embedding")
    assert np.array_equal(patched[0], cold[0])
    assert np.array_equal(patched[1], cold[1])
