"""RoarGraph build + search quality gates (reference methodology §5:
recall against exact ground truth, degree audits, determinism)."""

import pytest
from pyspark.sql import functions as F

from mysteryann_spark.operators.evaluate import mean_recall
from mysteryann_spark.operators.knn import knn_join_arrays
from mysteryann_spark.operators.projection import build_roargraph_from_table
from mysteryann_spark.operators.search import search_graph
from mysteryann_spark.params import IndexParams

PARAMS = IndexParams(M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="l2")


@pytest.fixture(scope="module")
def index(spark, emb):
    adj, ep = build_roargraph_from_table(spark, emb, PARAMS)
    return adj.localCheckpoint(), ep


def test_degree_bounds(index):
    adj, _ = index
    stats = adj.select(F.size("nbrs").alias("deg")).agg(
        F.max("deg").alias("mx"), F.min("deg").alias("mn"), F.count("*").alias("n")
    ).collect()[0]
    assert stats["mx"] <= PARAMS.degree_cap
    assert stats["mn"] >= 1
    assert stats["n"] == 500  # every base node present after connectivity phase


def test_search_recall_meets_gate(spark, emb, index):
    adj, ep = index
    q = emb.select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(q, emb, adj, ep, k=10, l_search=PARAMS.L_pq, metric="l2")
    res_arr = (
        res.groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
        .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
    )
    gt = knn_join_arrays(q, emb, 10, "l2")
    recall = mean_recall(res_arr, gt, 10)
    assert recall >= 0.95, f"recall@10={recall}"


def test_search_shape_and_counters(spark, emb, index):
    adj, ep = index
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("qid"), "embedding")
    rows = search_graph(q, emb, adj, ep, k=10, l_search=40, metric="l2").collect()
    assert len(rows) == 50
    for r in rows:
        assert 1 <= r["rank"] <= 10
        assert r["cmps"] > 0 and r["hops"] > 0
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["dist"]))
    for q_rows in by_q.values():
        q_rows.sort()
        dists = [d for _, d in q_rows]
        assert dists == sorted(dists)  # rank order == distance order


def test_build_deterministic(spark, emb, index):
    adj, ep = index
    adj2, ep2 = build_roargraph_from_table(spark, emb, PARAMS)
    assert ep == ep2
    a = {r["node"]: list(r["nbrs"]) for r in adj.collect()}
    b = {r["node"]: list(r["nbrs"]) for r in adj2.collect()}
    assert a == b


def test_distributed_search_matches_broadcast(spark, emb, index):
    """The frontier-join scale path must reproduce the broadcast path's
    results exactly: same visited-set evolution => same top-L pool."""
    from mysteryann_spark.operators.search_distributed import search_graph_distributed

    adj, ep = index
    q = emb.where("vec_id < 20").select(F.col("vec_id").alias("qid"), "embedding")
    bc = search_graph(q, emb, adj, ep, k=5, l_search=8, metric="l2").collect()
    di = search_graph_distributed(q, emb, adj, ep, k=5, l_search=8, metric="l2").collect()
    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    bc_map = {key(r): (r["nn_id"], r["dist"], r["cmps"], r["hops"]) for r in bc}
    di_map = {key(r): (r["nn_id"], r["dist"], r["cmps"], r["hops"]) for r in di}
    assert set(bc_map) == set(di_map)
    for kk, (nn, d, cmps, hops) in bc_map.items():
        nn2, d2, cmps2, hops2 = di_map[kk]
        assert nn == nn2, (kk, nn, nn2)
        assert abs(d - d2) < 1e-9
        assert (cmps, hops) == (cmps2, hops2), (kk, cmps, hops, cmps2, hops2)


def test_distributed_search_excludes_self_at_entry_point(spark, emb, index):
    """exclude_self with a query whose id IS the medoid entry point: the
    seed must still be expanded (not silently dropped), and both paths
    must agree — including the self row's absence from the final top-k."""
    from mysteryann_spark.operators.search_distributed import search_graph_distributed

    adj, ep = index
    q = emb.where(F.col("vec_id").isin([int(ep), 0, 7])).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    bc = search_graph(q, emb, adj, ep, k=5, l_search=8, metric="l2",
                      exclude_self=True).collect()
    di = search_graph_distributed(q, emb, adj, ep, k=5, l_search=8, metric="l2",
                                  exclude_self=True).collect()
    assert {r["qid"] for r in bc} == {int(ep), 0, 7}  # medoid query returns rows
    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    bc_map = {key(r): (r["nn_id"], round(r["dist"], 9), r["cmps"], r["hops"]) for r in bc}
    di_map = {key(r): (r["nn_id"], round(r["dist"], 9), r["cmps"], r["hops"]) for r in di}
    assert bc_map == di_map
    assert all(r["nn_id"] != r["qid"] for r in bc)


def test_distributed_search_parity_at_k_equals_l_search(spark, emb, index):
    """k == l_search with exclude_self is the parity boundary: the final
    pool must be bounded to l_search BEFORE the self filter on both paths
    (a medoid self-query then yields k-1 rows, not a backfilled k-th from
    the (l_search+1)-th visited candidate)."""
    from mysteryann_spark.operators.search_distributed import search_graph_distributed

    adj, ep = index
    q = emb.where(F.col("vec_id").isin([int(ep), 3])).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    kw = dict(k=8, l_search=8, metric="l2", exclude_self=True)
    bc = search_graph(q, emb, adj, ep, **kw).collect()
    di = search_graph_distributed(q, emb, adj, ep, **kw).collect()
    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    bc_map = {key(r): (r["nn_id"], round(r["dist"], 9)) for r in bc}
    di_map = {key(r): (r["nn_id"], round(r["dist"], 9)) for r in di}
    assert bc_map == di_map
    # the medoid's own query lost one pool slot to the self row
    assert sum(1 for r in di if r["qid"] == int(ep)) == 7


def test_distributed_search_survives_many_rounds(spark):
    """Regression: localCheckpoint keeps the child plan's ESTIMATED
    sizeInBytes, and the round loop's self-referencing joins roughly
    double those BigInteger bits every round — past ~60 rounds Spark's
    estimator threw `ArithmeticException: BigInteger would overflow
    supported range` (hit at the 2x10^4-node rehearsal, invisible at sf
    scale). The periodic parquet stats reset must carry a search whose
    frontier genuinely needs >100 rounds: a chain graph walked end to
    end, still bit-identical to the broadcast path."""
    from mysteryann_spark.operators.search_distributed import (
        search_graph_distributed,
    )

    n = 130
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    adj = spark.createDataFrame(
        [
            (i, [j for j in (i - 1, i + 1) if 0 <= j < n])
            for i in range(n)
        ],
        "node bigint, nbrs array<bigint>",
    ).localCheckpoint()
    q = emb.where(F.col("vec_id") == n - 1).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    kw = dict(k=3, l_search=4, metric="l2")
    di = search_graph_distributed(q, emb, adj, 0, max_rounds=4 * n, **kw).collect()
    bc = search_graph(q, emb, adj, 0, **kw).collect()
    # the walk really crossed the chain (that's what makes rounds > 100)
    assert max(r["hops"] for r in di) > 100
    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    assert {key(r): (r["nn_id"], round(r["dist"], 9), r["cmps"], r["hops"]) for r in di} == \
           {key(r): (r["nn_id"], round(r["dist"], 9), r["cmps"], r["hops"]) for r in bc}


def test_distributed_search_reset_every_round_parity(spark, emb, index, monkeypatch):
    """r12 bounded-pool rendering: force a stats reset EVERY round so the
    pool parquet round-trip, the alternating seen-compaction generations,
    and the end-in-a-reset-round pool re-materialization all run on every
    single round — results must stay bit-identical to the broadcast path
    and the returned (post-cleanup) plan must still collect, because the
    scratch dir is removed before the function returns."""
    import os
    import tempfile

    from mysteryann_spark.operators import search_distributed as sd

    monkeypatch.setattr(sd, "_STATS_RESET_EVERY", 1)
    adj, ep = index
    q = emb.where("vec_id < 8").select(F.col("vec_id").alias("qid"), "embedding")

    def stage_dirs():
        # top-level stage roots, and the snapshot dirs inside this
        # session's root (where the stats reset creates them)
        from mysteryann_spark.sources.staging import _stage_root

        root, mine = tempfile.gettempdir(), _stage_root()
        return {
            d for d in os.listdir(root) if d.startswith("mysteryann-stage-")
        } | {os.path.join(mine, d) for d in os.listdir(mine)}

    before = stage_dirs()
    res = sd.search_graph_distributed(q, emb, adj, ep, k=5, l_search=8, metric="l2")
    assert stage_dirs() == before  # scratch gone BEFORE the plan is consumed
    di = res.collect()
    bc = search_graph(q, emb, adj, ep, k=5, l_search=8, metric="l2").collect()
    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    assert {key(r): (r["nn_id"], round(r["dist"], 9), r["cmps"], r["hops"]) for r in di} == \
           {key(r): (r["nn_id"], round(r["dist"], 9), r["cmps"], r["hops"]) for r in bc}


def test_distributed_search_stats_reset_scratch_bounded(spark):
    """The stats-reset snapshots must not accumulate scratch: the loop
    reuses ONE overwrite-mode dir and removes it on exit, so a
    long-lived session running many long searches leaves no
    mysteryann-stage-* residue (the r8 leak: one full state snapshot per
    16 rounds, never unlinked)."""
    import os
    import tempfile

    from mysteryann_spark.operators.search_distributed import (
        search_graph_distributed,
    )

    def stage_dirs():
        # top-level stage roots, and the snapshot dirs inside this
        # session's root (where the stats reset creates them)
        from mysteryann_spark.sources.staging import _stage_root

        root, mine = tempfile.gettempdir(), _stage_root()
        return {
            d for d in os.listdir(root) if d.startswith("mysteryann-stage-")
        } | {os.path.join(mine, d) for d in os.listdir(mine)}

    n = 40  # chain graph -> ~n rounds -> multiple 16-round resets
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    adj = spark.createDataFrame(
        [(i, [j for j in (i - 1, i + 1) if 0 <= j < n]) for i in range(n)],
        "node bigint, nbrs array<bigint>",
    ).localCheckpoint()
    q = emb.where(F.col("vec_id") == n - 1).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    before = stage_dirs()
    res = search_graph_distributed(
        q, emb, adj, 0, k=3, l_search=4, metric="l2", max_rounds=4 * n
    ).collect()
    assert max(r["hops"] for r in res) > 2 * 16  # really crossed resets
    leaked = stage_dirs() - before
    assert not leaked, f"stats-reset scratch left behind: {leaked}"


def test_distributed_search_scratch_cleaned_on_midround_exception(spark, monkeypatch):
    """An exception mid-round (executor loss, interrupt) must not leak the
    stats-reset snapshot dir — the r9-verdict gap: cleanup ran only on the
    loop's success path, so one full state snapshot survived per failed
    call. The raise is injected AFTER the first 16-round reset so the dir
    provably exists when the loop dies."""
    import os
    import tempfile

    from mysteryann_spark.operators import search_distributed as sd

    def stage_dirs():
        # top-level stage roots, and the snapshot dirs inside this
        # session's root (where the stats reset creates them)
        from mysteryann_spark.sources.staging import _stage_root

        root, mine = tempfile.gettempdir(), _stage_root()
        return {
            d for d in os.listdir(root) if d.startswith("mysteryann-stage-")
        } | {os.path.join(mine, d) for d in os.listdir(mine)}

    n = 40
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    adj = spark.createDataFrame(
        [(i, [j for j in (i - 1, i + 1) if 0 <= j < n]) for i in range(n)],
        "node bigint, nbrs array<bigint>",
    ).localCheckpoint()
    q = emb.where(F.col("vec_id") == n - 1).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    real_gate = sd.broadcast_if_under
    calls = {"n": 0}

    def exploding_gate(df, est_bytes):
        # 3 gated hints per round -> call 60 lands ~round 20, past the
        # round-16 stats reset (the snapshot dir exists by then)
        calls["n"] += 1
        if calls["n"] > 60:
            raise RuntimeError("injected mid-round failure")
        return real_gate(df, est_bytes)

    monkeypatch.setattr(sd, "broadcast_if_under", exploding_gate)
    before = stage_dirs()
    with pytest.raises(RuntimeError, match="injected mid-round failure"):
        sd.search_graph_distributed(
            q, emb, adj, 0, k=3, l_search=4, metric="l2", max_rounds=4 * n
        ).collect()
    assert calls["n"] > 60  # the raise really fired mid-loop
    leaked = stage_dirs() - before
    assert not leaked, f"scratch leaked on the exception path: {leaked}"


def test_distributed_search_degree_estimate_is_upper_bound(spark, monkeypatch):
    """The candidate-side broadcast estimate must size from the MAX degree,
    not a sampled row — the r9-verdict hazard: a degree-1 first adjacency
    row underestimated cand_bytes ~10-70x, letting a giant candidate side
    slip past the gate into Spark's 8 GB broadcast hard-fail. First row
    here is degree 1 while the graph runs at a 16-wide cap."""
    from mysteryann_spark.operators import search_distributed as sd

    n = 40
    cap = 16
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    # node 0 (the head() row in this single-batch frame) has ONE neighbor;
    # every other node is at the cap
    rows = [(0, [1])] + [
        (i, [(i + j) % n for j in range(1, cap + 1)]) for i in range(1, n)
    ]
    adj = spark.createDataFrame(
        rows, "node bigint, nbrs array<bigint>"
    ).coalesce(1).localCheckpoint()
    assert adj.head()["nbrs"] == [1]  # the skew the old sample tripped on

    q = emb.where(F.col("vec_id") < 3).select(F.col("vec_id").alias("qid"), "embedding")
    n_q = 3

    seen = []
    real_gate = sd.broadcast_if_under

    def recording_gate(df, est_bytes):
        seen.append(est_bytes)
        return real_gate(df, est_bytes)

    monkeypatch.setattr(sd, "broadcast_if_under", recording_gate)
    sd.search_graph_distributed(
        q, emb, adj, 0, k=3, l_search=4, metric="l2", max_rounds=8
    ).collect()
    # the candidate-side estimate (the largest hinted) must budget the cap,
    # not the sampled degree-1 row
    assert max(seen) >= n_q * cap * 24.0

    # and an explicit max_degree must take precedence (no adjacency scan)
    seen.clear()
    sd.search_graph_distributed(
        q, emb, adj, 0, k=3, l_search=4, metric="l2", max_rounds=8,
        max_degree=2 * cap,
    ).collect()
    assert max(seen) >= n_q * 2 * cap * 24.0


def test_broadcast_if_under_gates_on_estimate(spark):
    """Forced broadcast hints must fall back to the planner's exchange
    when the caller-side estimate exceeds the ceiling — a hinted side
    past Spark's 8 GB broadcast limit hard-fails where the unhinted plan
    is merely slow."""
    from mysteryann_spark.session import _BCAST_CEILING_BYTES, broadcast_if_under

    df = spark.range(4)
    assert broadcast_if_under(df, _BCAST_CEILING_BYTES + 1) is df
    hinted = broadcast_if_under(df, _BCAST_CEILING_BYTES - 1)
    assert hinted is not df
    plan = hinted._jdf.queryExecution().logical().toString()
    assert "broadcast" in plan.lower()


def test_search_graph_rejects_unstaged_entry_point_and_zero_width(spark):
    """An ``entry_point`` that is not a staged base id must fail with an
    error naming it — not seed from the next id's row (an id between
    staged ids) or fail opaquely (an id past the last one). A beam that
    expands no entry per round is rejected up front."""
    from mysteryann_spark.operators.search import stage_graph_index

    ids = list(range(0, 20, 2))
    base = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in ids], "vec_id bigint, embedding array<double>"
    )
    adj = spark.createDataFrame(
        [(a, [b]) for a, b in zip(ids, ids[1:] + ids[:1])], "node bigint, nbrs array<bigint>"
    )
    q = base.limit(3).select(F.col("vec_id").alias("qid"), "embedding")
    staged = stage_graph_index(base, adj)
    ok = search_graph(q, base, adj, 4, k=3, l_search=5, staged=staged)
    assert ok.count() == 9
    for ep in (3, 100):
        with pytest.raises(Exception, match=f"entry_point {ep} is not a staged base id"):
            search_graph(q, base, adj, ep, k=3, l_search=5, staged=staged).collect()
    with pytest.raises(ValueError, match="expand_width must be >= 1"):
        search_graph(q, base, adj, 4, k=3, l_search=5, staged=staged, expand_width=0)


def test_bipartite_two_hop_search_recall(spark, emb):
    """Q2: 2-hop beam search over the bipartite graph (10 seeded random
    entry points) must recover most exact neighbors on the self-query
    workload."""
    from mysteryann_spark.operators.bipartite import build_bipartite
    from mysteryann_spark.operators.search import search_bipartite

    q_all = emb.select(F.col("vec_id").alias("qid"), "embedding")
    knn = knn_join_arrays(q_all, emb, 20, "l2")
    adj = build_bipartite(knn, m=20, base_count=500).localCheckpoint()
    q = emb.where("vec_id < 50").select(F.col("vec_id").alias("qid"), "embedding")
    res = search_bipartite(q, emb, adj, base_count=500, k=10, l_search=40, metric="l2")
    res_arr = (
        res.groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
        .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
    )
    gt = knn_join_arrays(q, emb, 10, "l2")
    recall = mean_recall(res_arr, gt, 10)
    assert recall >= 0.9, f"bipartite 2-hop recall@10={recall}"

    # determinism: seeded entry points -> identical reruns
    a = sorted(map(tuple, res.collect()))
    b = sorted(map(tuple, search_bipartite(
        q, emb, adj, base_count=500, k=10, l_search=40, metric="l2"
    ).collect()))
    assert a == b


def test_index_save_load_roundtrip(spark, emb, index, tmp_path):
    """S7/S8: projection graph + header survive the Parquet sink/source,
    and a search on the reloaded index equals one on the original."""
    from mysteryann_spark.sources.graph_io import load_index, save_index

    adj, ep = index
    path = str(tmp_path / "roargraph_index")
    save_index(adj, path, entry_point=ep, dim=64, params=PARAMS)
    adj2, meta = load_index(spark, path)
    assert meta["entry_point"] == ep
    assert meta["metric"] == PARAMS.metric and meta["dim"] == 64
    a = {r["node"]: list(r["nbrs"]) for r in adj.collect()}
    b = {r["node"]: list(r["nbrs"]) for r in adj2.collect()}
    assert a == b
    q = emb.where("vec_id < 10").select(F.col("vec_id").alias("qid"), "embedding")
    r1 = sorted(map(tuple, search_graph(q, emb, adj, ep, 5, 20, "l2").collect()))
    r2 = sorted(map(tuple, search_graph(q, emb, adj2, meta["entry_point"], 5, 20, "l2").collect()))
    assert r1 == r2


def test_saved_index_records_max_degree_no_scan_on_loaded_search(
    spark, emb, index, tmp_path, monkeypatch
):
    """r10 verdict "What's wrong" #1: the degree bound is a build-time
    constant — ``save_index`` measures it once into the header, and a
    loaded-index distributed search that threads ``meta["max_degree"]``
    must run ZERO DataFrame-level aggregates (the O(N) adjacency-wide
    ``max(size(nbrs))`` fallback was one full index pass per search call
    at 10^8 nodes). The recorded value is the MEASURED max, so it stays
    an upper bound even when connectivity repair bridged past the
    2*M_pjbp cap."""
    from pyspark.sql import DataFrame

    from mysteryann_spark.operators.search_distributed import search_graph_distributed
    from mysteryann_spark.sources.graph_io import load_index, save_index

    adj, ep = index
    true_max = adj.agg(F.max(F.size("nbrs"))).collect()[0][0]
    path = str(tmp_path / "roargraph_index_deg")
    save_index(adj, path, entry_point=ep, dim=64, params=PARAMS)
    adj2, meta = load_index(spark, path)
    assert meta["max_degree"] == true_max

    agg_calls: list = []
    real_agg = DataFrame.agg

    def recording_agg(self, *a, **kw):
        agg_calls.append(a)
        return real_agg(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "agg", recording_agg)
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph_distributed(
        q, emb, adj2.localCheckpoint(), int(meta["entry_point"]),
        k=3, l_search=6, metric="l2", max_degree=int(meta["max_degree"]),
    ).collect()
    assert len(res) > 0
    assert not agg_calls, (
        f"loaded-index search with a recorded max_degree still ran "
        f"DataFrame aggregates: {agg_calls}"
    )


def test_build_and_search_cosine_metric(spark, emb):
    """Metric parity: the reference's cosine mode is normalize-then-IP
    (src/index_bipartite.cpp:35-37) — the webvid flagship configuration
    (prepare_for_clip_webvid.py). Build + search under cosine must hit
    the same recall gate as L2, at the REGISTERED params (this gate backs
    the roargraph_search_cosine registry entry)."""
    from mysteryann_spark.queries.graph import PARAMS_COSINE as p
    adj, ep = build_roargraph_from_table(spark, emb, p)
    adj = adj.localCheckpoint()
    q = emb.where("vec_id < 100").select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(q, emb, adj, ep, k=10, l_search=40, metric="cosine")
    res_arr = (
        res.groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
        .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
    )
    gt = knn_join_arrays(q, emb, 10, "cosine")
    recall = mean_recall(res_arr, gt, 10)
    assert recall >= 0.95, f"cosine recall@10={recall}"


def test_build_and_search_ip_metric(spark, emb):
    """The reference's FLAGSHIP config is dist=ip (run_roargraph_test.sh:7)
    — negated inner product, distance.h:223. Build + search under ip must
    hit the same recall gate as L2/cosine."""
    p = IndexParams(M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="ip")
    adj, ep = build_roargraph_from_table(spark, emb, p)
    adj = adj.localCheckpoint()
    q = emb.where("vec_id < 100").select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(q, emb, adj, ep, k=10, l_search=40, metric="ip")
    res_arr = (
        res.groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
        .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
    )
    gt = knn_join_arrays(q, emb, 10, "ip")
    recall = mean_recall(res_arr, gt, 10)
    assert recall >= 0.95, f"ip recall@10={recall}"


def test_search_sweep_recall_monotone(spark, emb, index):
    """The reference's sweep protocol: recall must not degrade as L_pq
    grows, and the largest beam must clear the quality gate."""
    from mysteryann_spark.operators.sweep import search_sweep

    adj, ep = index
    q = emb.where("vec_id < 50").select(F.col("vec_id").alias("qid"), "embedding")
    rows = {r["l_pq"]: r for r in search_sweep(
        q, emb, adj, ep, k=10, l_values=[10, 20, 40]).collect()}
    assert rows[10]["recall"] <= rows[20]["recall"] + 1e-9
    assert rows[20]["recall"] <= rows[40]["recall"] + 1e-9
    assert rows[40]["recall"] >= 0.95
    for r in rows.values():
        assert r["avg_cmps"] > 0 and r["avg_hops"] > 0 and r["qps"] > 0
        assert r["rderr"] >= 0.0
    # a beam clearing the 0.95 recall gate returns near-exact distances
    assert rows[40]["rderr"] <= 0.05
    # bigger beams do strictly more work
    assert rows[10]["avg_cmps"] < rows[40]["avg_cmps"]


def test_filtered_search_recall_vs_exact_filtered(spark):
    """Post-filter graph search (same-label top-k) must hit >= 0.9 recall
    against the exact filtered kNN join (knn_join match_col)."""
    from mysteryann_spark.operators.knn import knn_join
    from mysteryann_spark.queries.graph import roargraph_search_filtered
    from mysteryann_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, "embeddings", SF_DIR)
    got = {}
    for r in roargraph_search_filtered(spark, SF_DIR).collect():
        got.setdefault(r["qid"], set()).add(r["nn_id"])
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"), "embedding", "label"
    )
    exact = {}
    for r in knn_join(q, emb, 10, "l2", exclude_self=True, match_col="label").collect():
        exact.setdefault(r["qid"], set()).add(r["nn_id"])
    recalls = [
        len(got.get(qid, set()) & nn) / len(nn) for qid, nn in exact.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.9, sum(recalls) / len(recalls)


def test_filtered_knn_labels_respected(spark, emb):
    """Every filtered-kNN neighbor shares the query's label, and ranks
    are the per-label exact order."""
    from mysteryann_spark.operators.knn import knn_join

    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding", "label"
    )
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = knn_join(q, emb, 5, "l2", exclude_self=True, match_col="label").collect()
    assert rows
    for r in rows:
        assert labels[r["nn_id"]] == labels[r["qid"]]


def test_insert_into_roargraph_recall_degrees_determinism(spark, emb):
    """Post-insert graph must (a) respect the degree cap, (b) cover every
    node, (c) make the inserted vectors retrievable — full-corpus search
    recall against exact kNN >= 0.9 — and (d) be deterministic."""
    from mysteryann_spark.operators.knn import knn_join_arrays
    from mysteryann_spark.operators.projection import (
        build_roargraph_from_table,
        insert_into_roargraph,
    )

    n = emb.count()
    cut = int(n * 0.9)
    old = emb.where(F.col("vec_id") < cut)
    new = emb.where(F.col("vec_id") >= cut).select("vec_id", "embedding")
    adj, ep = build_roargraph_from_table(spark, old, PARAMS)
    adj = adj.localCheckpoint()

    def run():
        m, e = insert_into_roargraph(
            old.select("vec_id", "embedding"), adj, ep, new, PARAMS
        )
        return m.localCheckpoint(), e

    merged, ep2 = run()
    rows = merged.select("node", F.array_sort("nbrs").alias("nbrs")).collect()
    assert len(rows) == n  # every node present, old and new
    assert all(1 <= len(r["nbrs"]) <= PARAMS.degree_cap for r in rows)

    q = emb.select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(q, emb, merged, ep2, k=10, l_search=PARAMS.L_pq, metric="l2")
    res_arr = (
        res.groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
        .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
    )
    gt = knn_join_arrays(q, emb, 10, "l2")
    recall = mean_recall(res_arr, gt, 10)
    assert recall >= 0.9, f"post-insert recall@10={recall}"

    again, _ = run()
    a = {r["node"]: r["nbrs"] for r in rows}
    b = {
        r["node"]: r["nbrs"]
        for r in again.select("node", F.array_sort("nbrs").alias("nbrs")).collect()
    }
    assert a == b


def test_insert_rejects_id_clash(spark, emb):
    from mysteryann_spark.operators.projection import (
        build_roargraph_from_table,
        insert_into_roargraph,
    )
    import pytest as _pytest

    old = emb.where(F.col("vec_id") < 100)
    adj, ep = build_roargraph_from_table(spark, old, PARAMS)
    with _pytest.raises(ValueError, match="already exist"):
        insert_into_roargraph(
            old.select("vec_id", "embedding"), adj, ep,
            old.select("vec_id", "embedding").limit(5), PARAMS,
        )


def test_binary_index_interop_roundtrip(spark, emb, index, tmp_path):
    """Reference binary format (SaveProjectionGraph/LoadProjectionGraph,
    src/index_bipartite.cpp:2606-2619/:2097-2117): (a) a hand-packed
    stream parses to the right adjacency, (b) save->load->save is
    byte-identical, (c) searching through the imported copy equals
    searching the original."""
    import struct

    from mysteryann_spark.sources.graph_io import (
        load_projection_binary,
        save_projection_binary,
    )

    # (a) hand-packed little file: ep=2, npts=3, adj = {0:[1,2], 1:[], 2:[0]}
    hand = tmp_path / "hand.index"
    with open(hand, "wb") as f:
        f.write(struct.pack("<2I", 2, 3))
        f.write(struct.pack("<I", 2) + struct.pack("<2I", 1, 2))
        f.write(struct.pack("<I", 0))
        f.write(struct.pack("<I", 1) + struct.pack("<I", 0))
    adj_h, ep_h = load_projection_binary(spark, str(hand))
    assert ep_h == 2
    assert {r["node"]: list(r["nbrs"]) for r in adj_h.collect()} == {
        0: [1, 2], 1: [], 2: [0]
    }

    # (b) byte-level roundtrip of the real built index
    adj, ep = index
    p1, p2 = tmp_path / "a.index", tmp_path / "b.index"
    save_projection_binary(adj, str(p1), entry_point=ep, npts=500)
    adj2, ep2 = load_projection_binary(spark, str(p1))
    assert ep2 == ep
    save_projection_binary(adj2, str(p2), entry_point=ep2, npts=500)
    assert p1.read_bytes() == p2.read_bytes()

    # (c) search parity through the imported copy
    q = emb.where("vec_id < 10").select(F.col("vec_id").alias("qid"), "embedding")
    r1 = sorted(map(tuple, search_graph(q, emb, adj, ep, 5, 20, "l2").collect()))
    r2 = sorted(
        map(tuple, search_graph(q, emb, adj2.localCheckpoint(), ep2, 5, 20, "l2").collect())
    )
    assert r1 == r2


def test_bipartite_binary_interop_roundtrip(spark, tmp_path):
    """Reference bipartite Save/Load layout (src/index_bipartite.cpp:
    2045-2071): npts header + per-node (deg, nbrs) records, zero-degree
    gaps preserved."""
    from mysteryann_spark.sources.graph_io import (
        load_bipartite_binary,
        save_bipartite_binary,
    )

    rows = [(0, [3, 4]), (2, [0]), (4, [1, 2, 3])]  # nodes 1,3 absent -> deg 0
    adj = spark.createDataFrame(rows, "node: bigint, nbrs: array<bigint>")
    p1 = tmp_path / "bip.index"
    save_bipartite_binary(adj, str(p1), npts=5)
    back = {r["node"]: list(r["nbrs"]) for r in load_bipartite_binary(spark, str(p1)).collect()}
    assert back == {0: [3, 4], 1: [], 2: [0], 3: [], 4: [1, 2, 3]}


def test_nsg_binary_interop_roundtrip(spark, emb, index, tmp_path):
    """NSG third-party layout (LoadNsgGraph, src/index_bipartite.cpp:
    2073-2095): width+ep header, records to EOF with NO point count —
    the loader must recover npts from the stream (the reference hardcodes
    10^6). (a) hand-packed parse, (b) byte roundtrip with width = max
    degree, (c) search parity through the import, (d) truncated-stream
    rejection."""
    import struct

    from mysteryann_spark.sources.graph_io import load_nsg_binary, save_nsg_binary

    # (a) hand-packed: width=7, ep=1, adj = {0:[2], 1:[0, 2], 2:[]}
    hand = tmp_path / "hand.nsg"
    with open(hand, "wb") as f:
        f.write(struct.pack("<2I", 7, 1))
        f.write(struct.pack("<I", 1) + struct.pack("<I", 2))
        f.write(struct.pack("<I", 2) + struct.pack("<2I", 0, 2))
        f.write(struct.pack("<I", 0))
    adj_h, ep_h, w_h = load_nsg_binary(spark, str(hand))
    assert (ep_h, w_h) == (1, 7)
    assert {r["node"]: list(r["nbrs"]) for r in adj_h.collect()} == {
        0: [2], 1: [0, 2], 2: []
    }

    # (b) byte roundtrip of the real built index; npts recovered = 500
    adj, ep = index
    p1, p2 = tmp_path / "a.nsg", tmp_path / "b.nsg"
    save_nsg_binary(adj, str(p1), entry_point=ep, npts=500)
    adj2, ep2, w2 = load_nsg_binary(spark, str(p1))
    assert ep2 == ep
    assert adj2.count() == 500
    assert w2 == adj.agg(F.max(F.size("nbrs"))).head()[0]
    save_nsg_binary(adj2, str(p2), entry_point=ep2, npts=500, width=w2)
    assert p1.read_bytes() == p2.read_bytes()

    # (c) search parity through the imported copy
    q = emb.where("vec_id < 10").select(F.col("vec_id").alias("qid"), "embedding")
    r1 = sorted(map(tuple, search_graph(q, emb, adj, ep, 5, 20, "l2").collect()))
    r2 = sorted(
        map(tuple, search_graph(q, emb, adj2.localCheckpoint(), ep2, 5, 20, "l2").collect())
    )
    assert r1 == r2

    # (d) a final record whose neighbor run is cut off must be rejected
    trunc = tmp_path / "trunc.nsg"
    trunc.write_bytes(p1.read_bytes()[:-4])
    with pytest.raises(ValueError, match="corrupt|truncated"):
        load_nsg_binary(spark, str(trunc))


def test_filtered_search_skewed_labels(spark, emb):
    """Selectivity-aware filtered search on a SKEWED label distribution:
    a 1%-frequency label must not lose recall to fixed-factor
    over-retrieval — filtered_search_graph routes it to the exact
    filtered kNN, so rare-label recall is exact while common labels ride
    the graph. Gate: mean recall >= 0.95 overall AND >= 0.99 on the rare
    label alone."""
    from mysteryann_spark.operators.knn import knn_join
    from mysteryann_spark.operators.projection import build_roargraph_from_table
    from mysteryann_spark.queries.graph import filtered_search_graph

    # skew: vec_id < 5 -> rare label 99 (1%), everything else label 0
    skewed = emb.select(
        "vec_id", "embedding",
        F.when(F.col("vec_id") < 5, F.lit(99)).otherwise(F.lit(0)).alias("label"),
    ).cache()
    adj, ep = build_roargraph_from_table(spark, skewed, PARAMS)
    q = skewed.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"), "embedding", "label"
    )
    res = filtered_search_graph(
        spark, skewed, adj.localCheckpoint(), ep, q, k=5, l_floor=PARAMS.L_pq,
        metric="l2",
    )
    got = {}
    for r in res.collect():
        got.setdefault(r["qid"], set()).add(r["nn_id"])
    exact = {}
    for r in knn_join(q, skewed, 5, "l2", exclude_self=True, match_col="label").collect():
        exact.setdefault(r["qid"], set()).add(r["nn_id"])
    labels = {r["qid"]: r["label"] for r in q.select("qid", "label").collect()}
    recalls = {qid: len(got.get(qid, set()) & nn) / len(nn) for qid, nn in exact.items()}
    rare = [v for qid, v in recalls.items() if labels[qid] == 99]
    assert rare, "skew fixture must include rare-label queries"
    assert sum(rare) / len(rare) >= 0.99, f"rare-label recall {sum(rare)/len(rare)}"
    assert sum(recalls.values()) / len(recalls) >= 0.95, (
        f"overall recall {sum(recalls.values())/len(recalls)}"
    )


def test_build_reachability_from_medoid(index):
    """Post-build connectivity audit — the live analog of the reference's
    (dead) CollectPoints/dfs repair pass (src/index_bipartite.cpp:
    2521-2604): every base node must be reachable from the entry point,
    or searches can never return it. The build's connectivity-enhancement
    phase (G4 phase 4-5) exists precisely to guarantee this."""
    adj, ep = index
    nbrs = {r["node"]: r["nbrs"] for r in adj.collect()}
    seen = {ep}
    frontier = [ep]
    while frontier:
        nxt = []
        for node in frontier:
            for nb in nbrs.get(node, []):
                if nb not in seen:
                    seen.add(nb)
                    nxt.append(nb)
        frontier = nxt
    unreached = set(nbrs) - seen
    assert not unreached, f"{len(unreached)} nodes unreachable from medoid {ep}"


def test_clustered_build_repair_and_pool_cap(spark):
    """The two scale hazards exposed by clustered data, regression-gated
    at small N: (a) hub-targeted merged prune pools are bounded by the
    kernel's pool_cap, so the build neither stalls nor OOMs on tightly
    clustered vectors; (b) isolated clusters leave the graph with
    unreachable components — ensure_reachable's BFS + bridge repair
    (live analog of the reference's dead CollectPoints pass,
    src/index_bipartite.cpp:2521-2604) must restore full reachability
    and searchable recall at a wide beam."""
    import numpy as np
    import pandas as pd

    from mysteryann_spark.operators.evaluate import mean_recall
    from mysteryann_spark.operators.projection import (
        build_roargraph_from_table,
        reachable_from,
    )

    dim, n, n_centers = 64, 4000, 32

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs = []
            for vid in ids:
                rng = np.random.default_rng(1_000_003 + int(vid))
                crng = np.random.default_rng(7 + int(vid) % n_centers)
                c = crng.standard_normal(dim) * 4.0  # tight, isolated clusters
                vecs.append((c + rng.standard_normal(dim)).astype(np.float32))
            yield pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})

    emb = (
        spark.range(0, n, 1, 32)
        .mapInPandas(gen, "vec_id bigint, embedding array<float>")
        .cache()
    )
    p = IndexParams(M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="l2")

    # without repair: clusters disconnect the graph (this is the hazard)
    adj0, ep0 = build_roargraph_from_table(spark, emb, p)
    adj0 = adj0.localCheckpoint()
    n_reached0 = reachable_from(adj0, ep0).count()
    assert n_reached0 < n, "fixture must actually produce disconnection"

    # with repair: full reachability and recall at a wide beam
    adj, ep = build_roargraph_from_table(spark, emb, p, ensure_reachable=True)
    adj = adj.localCheckpoint()
    assert reachable_from(adj, ep).count() == n
    q = emb.where("vec_id < 200").select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(q, emb, adj, ep, k=10, l_search=300, metric="l2")
    res_arr = (
        res.groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
        .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
    )
    gt = knn_join_arrays(q, emb, 10, "l2")
    recall = mean_recall(res_arr, gt, 10)
    assert recall >= 0.9, f"clustered repaired recall@10={recall}"
    emb.unpersist()


def test_repair_bridges_are_capacity_capped(spark):
    """The 300k rehearsal's third hazard: naive 1-NN bridging funnels a
    whole unreached region through the single nearest boundary node
    (measured 12,491-degree hub). The capacity-capped assignment must
    (a) restore full reachability, (b) add at most max_bridges_per_host
    bridges to any host when total capacity suffices, and (c) still
    succeed via the uncapped fallback when capacity doesn't suffice."""
    import numpy as np
    import pandas as pd

    from mysteryann_spark.operators.projection import (
        reachable_from,
        repair_reachability,
    )

    dim, n_a, n_b = 8, 10, 40
    rng = np.random.default_rng(3)
    # cluster A (hosts, reachable) near origin; cluster B far away
    vecs_a = rng.standard_normal((n_a, dim)) * 0.1
    vecs_b = rng.standard_normal((n_b, dim)) * 0.1 + 10.0
    emb_rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(np.concatenate([vecs_a, vecs_b]))
    ]
    base = spark.createDataFrame(emb_rows, "vec_id bigint, embedding array<float>")
    # A is a ring containing ep=0; B is a separate ring (internally
    # connected both directions so one inbound bridge reaches the rest)
    adj_rows = [(i, [(i + 1) % n_a, (i - 1) % n_a]) for i in range(n_a)] + [
        (n_a + j, [n_a + (j + 1) % n_b, n_a + (j - 1) % n_b]) for j in range(n_b)
    ]
    adj = spark.createDataFrame(adj_rows, "node bigint, nbrs array<bigint>")

    repaired, n_unreached = repair_reachability(
        base, adj, ep=0, metric="l2", bridge_candidates=3, max_bridges_per_host=4
    )
    assert n_unreached == n_b
    assert reachable_from(repaired, 0).count() == n_a + n_b
    # capacity 10 hosts x 4 = 40 = |B|: no host may exceed the cap
    before = {r["node"]: len(r["nbrs"]) for r in adj.collect()}
    after = {r["node"]: len(r["nbrs"]) for r in repaired.collect()}
    added_per_host = {i: after[i] - before[i] for i in range(n_a)}
    assert max(added_per_host.values()) <= 4, added_per_host
    assert sum(added_per_host.values()) == n_b  # every B node got a bridge

    # fallback regime: capacity 10 x 1 = 10 < 40 — reachability must win,
    # and the overflow must SPREAD across candidate hosts rather than
    # re-concentrating on everyone's shared 1-NN
    repaired2, _ = repair_reachability(
        base, adj, ep=0, metric="l2", bridge_candidates=2, max_bridges_per_host=1
    )
    assert reachable_from(repaired2, 0).count() == n_a + n_b
    after2 = {r["node"]: len(r["nbrs"]) for r in repaired2.collect()}
    added2 = {i: after2[i] - before[i] for i in range(n_a)}
    assert sum(added2.values()) == n_b
    assert max(added2.values()) <= 8, added2  # ~n_b/n_hosts + cap, not n_b


def _python_bfs(rows, ep):
    """Plain-Python reference BFS over (node, nbrs) rows; neighbour ids
    without a row are reached but have no out-edges."""
    out = {}
    for node, nbrs in rows:
        out.setdefault(node, []).extend(nbrs or [])
    seen, frontier = {ep}, [ep]
    while frontier:
        frontier = [v for u in frontier for v in out.get(u, []) if v not in seen]
        seen.update(frontier)
    return seen


def test_reachable_from_matches_python_bfs(spark):
    """The single-task BFS reaches exactly what a plain BFS does on
    random graphs with self-loops, empty neighbour lists, dangling
    neighbour ids (no row of their own) and an entry point with no row."""
    import numpy as np

    from mysteryann_spark.operators.projection import reachable_from

    rng = np.random.default_rng(11)
    for n in (30, 60, 120):
        rows = []
        for i in range(n):
            deg = int(rng.integers(0, 4))  # 0 -> empty list
            nbrs = [int(v) for v in rng.integers(0, n + 10, deg)]  # >= n dangle
            if rng.random() < 0.1:
                nbrs.append(i)  # self-loop
            rows.append((i, nbrs))
        adj = spark.createDataFrame(rows, "node bigint, nbrs array<bigint>")
        assert any(not nb for _, nb in rows)
        for ep in (0, int(rng.integers(0, n)), n + 100):
            got = [r["node"] for r in reachable_from(adj, ep).collect()]
            assert len(got) == len(set(got))
            assert set(got) == _python_bfs(rows, ep), (n, ep)


def _bridges_reference(rows, rounds, cap):
    """Pure-Python deferred acceptance over (u, r, dist, rank) candidate
    rows: each round every unassigned u proposes to its best-ranked host
    with capacity left, each host accepts by (dist, u) up to its capacity
    left; at most ``rounds`` rounds. Leftovers take the row with
    rank == 1 + u mod n_cand. Returns (sorted bridges, n_fallback)."""
    by_u = {}
    for row in rows:
        by_u.setdefault(row[0], []).append(row)
    for cands in by_u.values():
        cands.sort(key=lambda t: t[3])
    load, remaining, out = {}, set(by_u), []
    for _ in range(rounds):
        offers = {}
        for u in remaining:
            for row in by_u[u]:
                if load.get(row[1], 0) < cap:
                    offers.setdefault(row[1], []).append(row)
                    break
        took = []
        for r, props in offers.items():
            props.sort(key=lambda t: (t[2], t[0]))
            took += props[: cap - load.get(r, 0)]
        if not took:
            break
        for u, r, _, _ in took:
            load[r] = load.get(r, 0) + 1
            remaining.discard(u)
            out.append((u, r))
        if not remaining:
            break
    fallback = [
        (u, r)
        for u in remaining
        for (_, r, _, rank) in by_u[u]
        if rank == 1 + u % max(t[3] for t in by_u[u])
    ]
    return sorted(out + fallback), len(fallback)


def test_bridge_assignment_matches_deferred_acceptance_reference():
    """The one-pass numpy bridge assignment equals a plain-Python
    deferred-acceptance reference on random candidate tables whose
    distances tie on purpose (so hosts break ties by u), in both the
    capped regime (every node placed under the cap) and the fallback
    regime (capacity runs out)."""
    import numpy as np

    from mysteryann_spark.operators.projection import _assign_bridges

    rng = np.random.default_rng(5)
    regimes = {"capped": 0, "fallback": 0}
    for trial in range(60):
        n_u, n_h, k = int(rng.integers(5, 80)), int(rng.integers(3, 12)), int(rng.integers(1, 5))
        k = min(k, n_h)
        # odd trials: scarce capacity; even: about twice what is needed
        cap = int(rng.integers(1, 4)) if trial % 2 else 2 * -(-n_u // n_h)
        us = rng.choice(np.arange(1000, 3000), n_u, replace=False)
        rows = []
        for u in us:
            hosts = rng.choice(n_h, k, replace=False)
            dists = rng.integers(0, 3, k) / 2.0  # few values: many ties
            order = np.lexsort((hosts, dists))  # knn_join's (dist, id) ranks
            rows += [
                (int(u), int(hosts[j]), float(dists[j]), rank)
                for rank, j in enumerate(order, start=1)
            ]
        rounds = k if trial % 3 else 1
        want, n_fallback = _bridges_reference(rows, rounds, cap)
        regimes["fallback" if n_fallback else "capped"] += 1
        perm = rng.permutation(len(rows))  # input row order must not matter
        cols = [np.array([rows[i][c] for i in perm]) for c in range(4)]
        bu, br = _assign_bridges(
            cols[0].astype(np.int64), cols[1].astype(np.int64),
            cols[2].astype(np.float64), cols[3].astype(np.int64), rounds, cap,
        )
        assert sorted(zip(bu.tolist(), br.tolist())) == want, trial
    assert min(regimes.values()) >= 10, regimes


def test_repair_job_count_independent_of_diameter(spark):
    """Reachability repair runs a fixed number of Spark jobs: a ring of
    diameter ~10 and one of diameter ~200, each with an unreached
    island, cost the same job count. A per-round BFS or assignment loop
    would scale the second with its diameter."""
    import numpy as np

    from mysteryann_spark.operators.projection import (
        reachable_from,
        repair_reachability,
    )

    sc = spark.sparkContext
    n_island = 5

    def repair_jobs(n_ring: int) -> int:
        # directed ring 0 -> 1 -> ... -> n_ring-1 -> 0 from ep = 0 (BFS
        # depth n_ring - 1) plus an island ring no ring node links to
        rng = np.random.default_rng(n_ring)
        n = n_ring + n_island
        vecs = np.concatenate(
            [rng.standard_normal((n_ring, 4)), rng.standard_normal((n_island, 4)) + 8.0]
        )
        base = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id bigint, embedding array<double>",
        )
        rows = [(i, [(i + 1) % n_ring]) for i in range(n_ring)] + [
            (n_ring + j, [n_ring + (j + 1) % n_island]) for j in range(n_island)
        ]
        adj = spark.createDataFrame(rows, "node bigint, nbrs array<bigint>").localCheckpoint()
        group = f"repair-job-guard-{n_ring}"
        sc.setJobGroup(group, "repair job-count guard")
        try:
            repaired, n_unreached = repair_reachability(base, adj, 0, "l2")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n_unreached == n_island
        assert reachable_from(repaired, 0).count() == n
        return n_jobs

    near, far = repair_jobs(11), repair_jobs(201)
    assert near == far, (near, far)
    assert near <= 16, near


def test_distributed_search_frontier_batched_width(spark, emb, index):
    """expand_width > 1 (the frontier-batched multi-hop round) must stay
    recall-equivalent to strict best-first while doing the same-or-more
    scoring per round (cmps >= width-1 path's) — the knob that cuts
    driver-synchronized join rounds ~width-fold at scale."""
    from mysteryann_spark.operators.search_distributed import search_graph_distributed

    adj, ep = index
    q = emb.where("vec_id < 10").select(F.col("vec_id").alias("qid"), "embedding")
    strict = search_graph_distributed(
        q, emb, adj, ep, k=10, l_search=20, metric="l2"
    ).collect()
    wide = search_graph_distributed(
        q, emb, adj, ep, k=10, l_search=20, metric="l2", expand_width=4
    ).collect()
    by_q = {}
    for r in strict:
        by_q.setdefault(r["qid"], set()).add(r["nn_id"])
    overlap = []
    wide_by_q = {}
    for r in wide:
        wide_by_q.setdefault(r["qid"], set()).add(r["nn_id"])
    for qid, nn in by_q.items():
        overlap.append(len(nn & wide_by_q.get(qid, set())) / len(nn))
    # wider exploration may only improve the pool; overlap stays high
    assert sum(overlap) / len(overlap) >= 0.9, overlap
    s_hops = {r["qid"]: r["hops"] for r in strict}
    w_hops = {r["qid"]: r["hops"] for r in wide}
    # batched rounds expand in parallel: per-query expansions (hops) may
    # rise, but never fall below the strict path's minimum progress
    assert all(w_hops[q0] >= 1 for q0 in s_hops)


def test_ivf_phase0_build_recall_within_gate(spark, emb):
    """The sub-quadratic phase-0 swap (r4 VERDICT "What's missing" #1):
    a graph built from IVF-routed approximate training kNN must search
    within 0.01 recall of the exact-phase-0 graph at the same beam — the
    acceptance bar set for replacing the build's only super-linear stage.
    Uses the registry entry's registered opts so the driver-run
    configuration is exactly what's gated here."""
    from mysteryann_spark.queries.graph import IVF_PHASE0_OPTS

    q = emb.where("vec_id < 100").select(F.col("vec_id").alias("qid"), "embedding")
    gt = knn_join_arrays(q, emb, 10, "l2")

    def _recall(phase0, opts=None):
        adj, ep = build_roargraph_from_table(
            spark, emb, PARAMS, phase0=phase0, phase0_opts=opts
        )
        res = search_graph(
            q, emb, adj.localCheckpoint(), ep,
            k=10, l_search=PARAMS.L_pq, metric="l2",
        )
        res_arr = (
            res.groupBy("qid")
            .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
            .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
        )
        return mean_recall(res_arr, gt, 10)

    r_exact = _recall("exact")
    r_ivf = _recall("ivf", IVF_PHASE0_OPTS)
    assert r_ivf >= r_exact - 0.01, f"ivf-built {r_ivf} vs exact-built {r_exact}"


def test_ivf_phase0_build_deterministic(spark, emb):
    """Same seed, same data -> identical adjacency (the build determinism
    contract extends to the approximate phase 0)."""
    from mysteryann_spark.queries.graph import IVF_PHASE0_OPTS

    a1, _ = build_roargraph_from_table(
        spark, emb, PARAMS, phase0="ivf", phase0_opts=IVF_PHASE0_OPTS
    )
    a2, _ = build_roargraph_from_table(
        spark, emb, PARAMS, phase0="ivf", phase0_opts=IVF_PHASE0_OPTS
    )
    assert a1.exceptAll(a2).count() == 0 and a2.exceptAll(a1).count() == 0


def test_delete_with_ensure_reachable_bridges_orphaned_component(spark):
    """Deleting the only nodes that link a component to the entry point
    orphans it (splicing finds no surviving out-neighbour to link
    through); ``ensure_reachable=True`` must bridge it back, leaving
    every survivor reachable with exactly one adjacency row each."""
    import numpy as np

    from mysteryann_spark.operators.projection import delete_from_roargraph

    rng = np.random.default_rng(8)
    n_a, n_b = 10, 10
    # A: ring 0..9 around ep = 0; links 9 -> 10 -> 11 -> 12 (the only
    # path into B); B: ring 12..21 far away
    vecs = np.concatenate(
        [rng.standard_normal((n_a, 4)), rng.standard_normal((2, 4)) + 4.0,
         rng.standard_normal((n_b, 4)) + 8.0]
    )
    base = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    rows = [(i, [(i + 1) % n_a, (i - 1) % n_a]) for i in range(n_a)]
    rows[n_a - 1] = (n_a - 1, [0, n_a - 2, 10])
    rows += [(10, [11, 9]), (11, [12, 10])]
    rows += [(12 + j, [12 + (j + 1) % n_b, 12 + (j - 1) % n_b]) for j in range(n_b)]
    adj = spark.createDataFrame(rows, "node bigint, nbrs array<bigint>")
    dels = spark.createDataFrame([(10,), (11,)], "vec_id bigint")
    survivors = set(range(n_a)) | set(range(12, 12 + n_b))

    def reached(df, ep):
        return _python_bfs([(r["node"], r["nbrs"]) for r in df.collect()], ep)

    _, plain, ep = delete_from_roargraph(base, adj, 0, dels, PARAMS)
    assert ep == 0
    assert not survivors <= reached(plain, ep), "fixture must orphan B"

    _, fixed, ep = delete_from_roargraph(base, adj, 0, dels, PARAMS, ensure_reachable=True)
    nodes = [r["node"] for r in fixed.collect()]
    assert sorted(nodes) == sorted(survivors)
    assert survivors <= reached(fixed, ep)


def test_delete_rejects_delta_with_repair_before_any_work(spark, monkeypatch):
    """``return_delta`` with ``ensure_reachable`` is an invalid
    combination; it must raise on entry, before the reachability repair
    (and the splice jobs ahead of it) spend any Spark work."""
    from mysteryann_spark.operators import projection

    def _no_repair(*a, **k):
        raise AssertionError("repair_reachability ran before the flag check")

    monkeypatch.setattr(projection, "repair_reachability", _no_repair)
    base = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(4)], "vec_id bigint, embedding array<double>"
    )
    adj = spark.createDataFrame(
        [(i, [(i + 1) % 4]) for i in range(4)], "node bigint, nbrs array<bigint>"
    )
    dels = spark.createDataFrame([(2,)], "vec_id bigint")
    with pytest.raises(ValueError, match="return_delta cannot be combined"):
        projection.delete_from_roargraph(
            base, adj, 0, dels, PARAMS, ensure_reachable=True, return_delta=True
        )


def test_delete_from_roargraph_splices_and_respects_cap(spark, emb, index):
    """Post-delete graph: no tombstoned id anywhere (nodes or neighbor
    lists), every survivor keeps a row, degree cap held, and survivors
    stay retrievable — search recall vs exact kNN over the SURVIVING set
    >= 0.9 (the splice step is what keeps the graph navigable through
    the holes)."""
    from mysteryann_spark.operators.projection import delete_from_roargraph

    adj, ep = index
    dels = emb.where(F.col("vec_id") % 10 == 3).select("vec_id")
    survivors, new_adj, new_ep = delete_from_roargraph(
        emb.select("vec_id", "embedding"), adj, ep, dels, PARAMS
    )
    new_adj = new_adj.localCheckpoint()
    del_ids = {r["vec_id"] for r in dels.collect()}
    assert ep not in del_ids and new_ep == ep  # ep survives this slice
    rows = new_adj.collect()
    assert len(rows) == 500 - len(del_ids)
    assert all(r["node"] not in del_ids for r in rows)
    assert all(nb not in del_ids for r in rows for nb in r["nbrs"])
    assert all(len(r["nbrs"]) <= PARAMS.degree_cap for r in rows)

    q = survivors.select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(
        q, survivors, new_adj, new_ep, k=10, l_search=PARAMS.L_pq, metric="l2"
    )
    got_ids = {r["nn_id"] for r in res.select("nn_id").distinct().collect()}
    assert not (got_ids & del_ids)
    res_arr = (
        res.groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
        .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
    )
    gt = knn_join_arrays(q, survivors, 10, "l2")
    recall = mean_recall(res_arr, gt, 10)
    assert recall >= 0.9, f"post-delete recall@10={recall}"


def test_delete_entry_point_reseeds_medoid(spark, emb, index):
    """Deleting the entry point itself re-seeds it as the survivors'
    medoid and searches still return k results."""
    from mysteryann_spark.operators.projection import delete_from_roargraph

    adj, ep = index
    dels = spark.createDataFrame([(int(ep),)], "vec_id bigint")
    survivors, new_adj, new_ep = delete_from_roargraph(
        emb.select("vec_id", "embedding"), adj, ep, dels, PARAMS
    )
    assert new_ep != ep
    assert survivors.where(F.col("vec_id") == new_ep).count() == 1
    q = survivors.limit(5).select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(
        q, survivors, new_adj.localCheckpoint(), new_ep,
        k=10, l_search=PARAMS.L_pq, metric="l2",
    )
    per_q = res.groupBy("qid").count().collect()
    assert len(per_q) == 5 and all(r["count"] == 10 for r in per_q)
    assert ep not in {r["nn_id"] for r in res.select("nn_id").collect()}


def _pools(out_d, out_r, indptr):
    """The kernel's sentinel-padded pool arrays as the scalar refs'
    per-query lists of (dist, row) tuples."""
    sent = len(indptr) - 1
    return [
        [(float(d), int(r)) for d, r in zip(ds, rs) if r != sent]
        for ds, rs in zip(out_d, out_r)
    ]


def test_vectorized_beam_kernel_bit_parity_with_scalar_reference():
    """The production beam kernel (_beam_search_batch: compacted pools,
    sort-free scatter merge, LSM visited set) must evolve bit-identically
    to the plain scalar loop (_beam_search_batch_ref) — pools, cmps and
    hops all equal — across metrics, widths, pool sizes, exclusions and
    graph shapes. This is the gate that lets the pinned search oracles
    keep certifying the fast kernel."""
    import numpy as np

    from mysteryann_spark.operators.search import (
        _beam_search_batch,
        _beam_search_batch_ref,
    )

    rng = np.random.default_rng(7)
    for trial in range(25):
        n = int(rng.integers(30, 400))
        deg = int(rng.integers(2, 12))
        bmat = rng.standard_normal((n, 16))
        lists = [
            rng.choice(n, size=rng.integers(1, deg + 1), replace=False)
            for _ in range(n)
        ]
        indptr = np.concatenate([[0], np.cumsum([len(l) for l in lists])]).astype(np.int64)
        indices = np.concatenate(lists).astype(np.int64)
        nq = int(rng.integers(1, 50))
        qmat = rng.standard_normal((nq, 16))
        L = int(rng.integers(2, 40))
        w = int(rng.choice([1, 1, 2, 4, 8]))
        metric = str(rng.choice(["l2", "ip", "cosine"]))
        excl = np.where(
            rng.random(nq) < 0.3, rng.integers(0, n, size=nq), -1
        ).astype(np.int64)
        ep = int(rng.integers(0, n))
        p1, c1, h1 = _beam_search_batch_ref(
            qmat, ep, indptr, indices, bmat, L, metric, excl, expand_width=w)
        od, orr, c2, h2 = _beam_search_batch(
            qmat, [[ep]] * nq, indptr, indices, bmat, L, metric, excl, expand_width=w)
        assert np.array_equal(c1, c2), (trial, metric, w)
        assert np.array_equal(h1, h2), (trial, metric, w)
        assert p1 == _pools(od, orr, indptr), (trial, metric, w)


def test_vectorized_bipartite_kernel_bit_parity_with_scalar_reference():
    """Same gate as the projection-graph kernel, for the 2-hop bipartite
    search: the kernel at ``n_hops=2`` must match the scalar loop exactly
    — pools, cmps, hops — across metrics, seed multisets (duplicates
    included) and graph shapes."""
    import numpy as np

    from mysteryann_spark.operators.search import (
        _beam_search_batch,
        _beam_search_bipartite_batch_ref,
    )

    rng = np.random.default_rng(11)
    for trial in range(20):
        nb = int(rng.integers(20, 200))
        nq_nodes = int(rng.integers(5, 80))
        d = 12
        bmat = rng.standard_normal((nb, d))
        lists = [
            nb + rng.choice(nq_nodes, size=rng.integers(0, 5), replace=False)
            for _ in range(nb)
        ] + [
            rng.choice(nb, size=rng.integers(0, 6), replace=False)
            for _ in range(nq_nodes)
        ]
        indptr = np.concatenate([[0], np.cumsum([len(l) for l in lists])]).astype(np.int64)
        indices = (
            np.concatenate([np.asarray(l, dtype=np.int64) for l in lists])
            if indptr[-1] else np.empty(0, np.int64)
        )
        nq = int(rng.integers(1, 30))
        qmat = rng.standard_normal((nq, d))
        L = int(rng.integers(2, 30))
        seeds = [
            [int(x) for x in rng.integers(0, nb, size=rng.integers(1, 10))]
            for _ in range(nq)
        ]
        metric = str(rng.choice(["l2", "ip", "cosine"]))
        p1, c1, h1 = _beam_search_bipartite_batch_ref(
            qmat, seeds, indptr, indices, bmat, L, metric)
        od, orr, c2, h2 = _beam_search_batch(
            qmat, seeds, indptr, indices, bmat, L, metric, n_hops=2)
        assert np.array_equal(c1, c2) and np.array_equal(h1, h2), (trial, metric)
        assert p1 == _pools(od, orr, indptr), (trial, metric)


def test_beam_kernel_parity_on_tied_distances():
    """Duplicate base vectors force EXACT distance ties at the pool
    boundary — both kernels must resolve them by the full (dist, id)
    tuple order (NeighborPriorityQueue, neighbor.h:138-223), including
    replacing a full pool's boundary entry with an equal-distance
    smaller-id candidate. The Gaussian parity trials above can never
    produce ties, so this case gates the boundary rule specifically
    (r7 ADVICE: the scalar refs used a dist-only boundary test and
    diverged from the production kernels on tie-bearing data)."""
    import numpy as np

    from mysteryann_spark.operators.search import (
        _beam_search_batch,
        _beam_search_batch_ref,
    )

    rng = np.random.default_rng(23)
    for trial in range(15):
        n = int(rng.integers(60, 300))
        # base rows drawn from a tiny vocabulary of distinct vectors ->
        # masses of bit-exact duplicate rows, hence exact distance ties
        vocab = rng.standard_normal((int(rng.integers(3, 8)), 8))
        bmat = vocab[rng.integers(0, len(vocab), size=n)]
        deg = int(rng.integers(2, 10))
        lists = [
            rng.choice(n, size=rng.integers(1, deg + 1), replace=False)
            for _ in range(n)
        ]
        indptr = np.concatenate([[0], np.cumsum([len(l) for l in lists])]).astype(np.int64)
        indices = np.concatenate(lists).astype(np.int64)
        nq = int(rng.integers(2, 25))
        qmat = vocab[rng.integers(0, len(vocab), size=nq)]
        L = int(rng.integers(2, 20))
        w = int(rng.choice([1, 2, 4]))
        metric = str(rng.choice(["l2", "ip", "cosine"]))
        excl = np.where(
            rng.random(nq) < 0.3, rng.integers(0, n, size=nq), -1
        ).astype(np.int64)
        ep = int(rng.integers(0, n))
        p1, c1, h1 = _beam_search_batch_ref(
            qmat, ep, indptr, indices, bmat, L, metric, excl, expand_width=w)
        od, orr, c2, h2 = _beam_search_batch(
            qmat, [[ep]] * nq, indptr, indices, bmat, L, metric, excl, expand_width=w)
        assert np.array_equal(c1, c2), (trial, metric, w)
        assert np.array_equal(h1, h2), (trial, metric, w)
        assert p1 == _pools(od, orr, indptr), (trial, metric, w)


def test_bipartite_kernel_parity_on_tied_distances():
    """Tie-bearing case for the 2-hop bipartite kernel: duplicate base
    vectors AND duplicate seed draws, same (dist, id) boundary-order
    gate as the projection-graph case."""
    import numpy as np

    from mysteryann_spark.operators.search import (
        _beam_search_batch,
        _beam_search_bipartite_batch_ref,
    )

    rng = np.random.default_rng(29)
    for trial in range(12):
        nb = int(rng.integers(30, 150))
        nq_nodes = int(rng.integers(5, 50))
        vocab = rng.standard_normal((int(rng.integers(3, 7)), 8))
        bmat = vocab[rng.integers(0, len(vocab), size=nb)]
        lists = [
            nb + rng.choice(nq_nodes, size=rng.integers(0, 5), replace=False)
            for _ in range(nb)
        ] + [
            rng.choice(nb, size=rng.integers(0, 6), replace=False)
            for _ in range(nq_nodes)
        ]
        indptr = np.concatenate([[0], np.cumsum([len(l) for l in lists])]).astype(np.int64)
        indices = (
            np.concatenate([np.asarray(l, dtype=np.int64) for l in lists])
            if indptr[-1] else np.empty(0, np.int64)
        )
        nq = int(rng.integers(2, 20))
        qmat = vocab[rng.integers(0, len(vocab), size=nq)]
        L = int(rng.integers(2, 15))
        seeds = [
            [int(x) for x in rng.integers(0, nb, size=rng.integers(1, 10))]
            for _ in range(nq)
        ]
        metric = str(rng.choice(["l2", "ip", "cosine"]))
        p1, c1, h1 = _beam_search_bipartite_batch_ref(
            qmat, seeds, indptr, indices, bmat, L, metric)
        od, orr, c2, h2 = _beam_search_batch(
            qmat, seeds, indptr, indices, bmat, L, metric, n_hops=2)
        assert np.array_equal(c1, c2) and np.array_equal(h1, h2), (trial, metric)
        assert p1 == _pools(od, orr, indptr), (trial, metric)


def test_bipartite_kernel_empty_seed_lists():
    """Seedless queries must return empty pools gracefully from BOTH
    kernels — the vectorized kernel used to crash in _merge_pools
    (zero-size reduction) when every seed list was empty (r7 ADVICE).
    Covers all-empty and mixed empty/non-empty seed sets."""
    import numpy as np

    from mysteryann_spark.operators.search import (
        _beam_search_batch,
        _beam_search_bipartite_batch_ref,
    )

    rng = np.random.default_rng(31)
    nb, nq_nodes = 40, 10
    bmat = rng.standard_normal((nb, 8))
    lists = [
        nb + rng.choice(nq_nodes, size=2, replace=False) for _ in range(nb)
    ] + [rng.choice(nb, size=3, replace=False) for _ in range(nq_nodes)]
    indptr = np.concatenate([[0], np.cumsum([len(l) for l in lists])]).astype(np.int64)
    indices = np.concatenate(lists).astype(np.int64)
    qmat = rng.standard_normal((3, 8))
    for seeds in (
        [[], [], []],                      # every seed list empty
        [[], [0, 5, 5], []],               # mixed, with duplicate seeds
    ):
        p1, c1, h1 = _beam_search_bipartite_batch_ref(
            qmat, seeds, indptr, indices, bmat, 8, "l2")
        od, orr, c2, h2 = _beam_search_batch(
            qmat, seeds, indptr, indices, bmat, 8, "l2", n_hops=2)
        p2 = _pools(od, orr, indptr)
        assert np.array_equal(c1, c2) and np.array_equal(h1, h2)
        assert p1 == p2
        for s, pool in zip(seeds, p2):
            if not s:
                assert pool == []


def test_precomputed_knn_df_build_matches_inline_phase0(spark, emb):
    """``knn_df`` (the LoadKNN analog of the reference loading its
    precomputed GT as build input, src/index_bipartite.cpp:2622-2639,
    and the multi-session segmentation point for 10^8-order builds):
    feeding the build the SAME table phase 0 would compute must produce
    the IDENTICAL adjacency and entry point."""
    from mysteryann_spark.operators.knn_approx import ivf_knn_join_arrays
    from mysteryann_spark.queries.graph import IVF_PHASE0_OPTS

    inline, ep1 = build_roargraph_from_table(
        spark, emb, PARAMS, phase0="ivf", phase0_opts=IVF_PHASE0_OPTS
    )
    q = emb.select(F.col("vec_id").alias("qid"), "embedding")
    knn = ivf_knn_join_arrays(
        q, emb.select("vec_id", "embedding"), PARAMS.M_sq, PARAMS.metric,
        **IVF_PHASE0_OPTS,
    )
    fed, ep2 = build_roargraph_from_table(spark, emb, PARAMS, knn_df=knn)
    assert ep1 == ep2
    assert inline.exceptAll(fed).count() == 0
    assert fed.exceptAll(inline).count() == 0


def test_build_joins_threads_when_phase0_raises(spark, emb, monkeypatch):
    """The medoid and staged-base threads start before phase 0; when
    phase 0 raises, both are joined before the error propagates instead
    of leaving their Spark jobs running behind it."""
    import threading

    from mysteryann_spark.operators import projection

    def boom(*args, **kwargs):
        raise RuntimeError("phase 0 failed")

    monkeypatch.setattr(projection, "knn_join_arrays", boom)
    q = emb.where("vec_id < 50").select(F.col("vec_id").alias("qid"), "embedding")
    with pytest.raises(RuntimeError, match="phase 0 failed"):
        projection.build_roargraph(emb, q, PARAMS)
    alive = [
        t.name for t in threading.enumerate()
        if t.name in ("medoid", "stage-base") and t.is_alive()
    ]
    assert alive == []
