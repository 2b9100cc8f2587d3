"""RoarGraph projection build — SURVEY.md §2.9 G4, batch DataFrame form.

The reference's ``LinkProjection`` (src/index_bipartite.cpp:1043-1277) runs
five phases under OpenMP with per-node mutexes. The Spark rendering turns
each phase into a DataFrame job; reverse-edge lock contention becomes a
groupBy(dst) shuffle — lock-free by construction:

1. Per training query: top-``M_sq`` exact NNs; target = 1-NN; remaining
   NNs become the target's candidate pool; occlusion-prune -> adjacency
   (:1059-1097). Deviation: queries sharing a target are MERGED into one
   pool and pruned once (the reference lets the last OpenMP thread win the
   write race at :1088-1091 — nondeterministic; the merged form is
   deterministic and uses strictly more information).
2. Reverse edges appended, overfull nodes pruned (:1100-1104).
3. Over-degree re-prune (:1107-1136). Phases 2+3 collapse into one
   union + groupBy + unconditional prune: pruning a pool already <= M
   returns the same set (backfill refills everything), so the conditional
   is unnecessary in batch form.
4. Connectivity enhancement (:1192-1248): per base node, beam-search from
   the medoid and prune the visited set into ``supply_nbrs``. Deviation:
   the reference searches the *incrementally growing* supply graph
   (NSW-style insertion — earlier nodes see a sparser graph, order-
   dependent); we search the completed phase-3 projection graph, which is
   deterministic and gives every node the same-quality candidate pool.
   Gated by recall, as the reference itself gates build quality (§5).
5. Supply merged into projection, capped at 2*M_pjbp (:1251-1269).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysteryann_spark.operators.knn import knn_join_arrays, medoid
from mysteryann_spark.operators.prune import prune_candidates
from mysteryann_spark.params import IndexParams
from mysteryann_spark.sources.staging import table_csr


def _edges(adj: DataFrame) -> DataFrame:
    return adj.select("node", F.explode("nbrs").alias("cand_id"))


def _prune_merged(
    fwd_edges: DataFrame,
    base_df: DataFrame,
    m: int,
    metric: str,
    staged_base: str | None = None,
) -> DataFrame:
    """union(edges, reversed edges) -> per-node occlusion prune."""
    rev = fwd_edges.select(
        F.col("cand_id").alias("node"), F.col("node").alias("cand_id")
    )
    merged = fwd_edges.unionByName(rev)
    return prune_candidates(merged, base_df, m, metric, staged_base=staged_base)


def _reached_mask(tbl, ep: int) -> tuple[np.ndarray, np.ndarray]:
    """Frontier BFS from ``ep`` over an Arrow ``(node, nbrs)`` table:
    returns (sorted ids, reached mask). The CSR spans the union of node
    ids, neighbour ids and ``ep``, so a neighbour without a row of its
    own is reached (it just has no out-edges) and an ``ep`` without a row
    reaches only itself. Null ``nbrs`` lists have no edges."""
    import pyarrow.compute as pc

    nodes = tbl["node"].to_numpy().astype(np.int64)
    edged = tbl.filter(pc.is_valid(tbl["nbrs"]))
    flat = pc.list_flatten(edged["nbrs"]).to_numpy().astype(np.int64)
    ids = np.union1d(np.union1d(nodes, flat), np.array([ep], dtype=np.int64))
    indptr, indices = table_csr(edged, ids)
    seen = np.zeros(len(ids), dtype=bool)
    frontier = np.searchsorted(ids, [ep])
    seen[frontier] = True
    while len(frontier):
        lo, lens = indptr[frontier], np.diff(indptr)[frontier]
        ends = np.cumsum(lens)
        pos = np.arange(int(ends[-1]), dtype=np.int64) - np.repeat(ends - lens - lo, lens)
        nxt = np.unique(indices[pos])
        frontier = nxt[~seen[nxt]]
        seen[frontier] = True
    return ids, seen


def _reach_marks(adj_df: DataFrame, ep: int) -> DataFrame:
    """``(node, reached)``: every id reached from ``ep`` (True), plus one
    row per adjacency row whose node is not reached (False). One staged
    write of the adjacency, then ONE single-partition task runs the
    whole BFS (``_reached_mask``) over it."""
    from mysteryann_spark.sources.staging import stage_parquet, staged_task

    path = stage_parquet(adj_df.select("node", "nbrs"))
    ep = int(ep)

    def bfs(tbl) -> Iterator[pd.DataFrame]:
        ids, seen = _reached_mask(tbl, ep)
        nodes = tbl["node"].to_numpy().astype(np.int64)
        yield pd.DataFrame({"node": ids[seen], "reached": True})
        yield pd.DataFrame({"node": nodes[~seen[np.searchsorted(ids, nodes)]], "reached": False})

    return staged_task(adj_df.sparkSession, path, bfs, "node bigint, reached boolean")


def reachable_from(adj_df: DataFrame, ep: int) -> DataFrame:
    """The ``(node)`` set reachable from ``ep`` over a ``(node, nbrs)``
    adjacency. Neighbour ids without a row count as reached; an ``ep``
    with no row yields ``{ep}``.

    Job shape is fixed, whatever the graph's diameter: one distributed
    staged write of the adjacency, then each action on the result runs
    the whole BFS as ONE task (``_reached_mask``, a vectorized numpy
    frontier loop). That task holds the whole-graph CSR — the same
    artifact every phase-4 search worker already loads
    (``staging.load_staged_graph``), so it adds no new memory ceiling."""
    return _reach_marks(adj_df, ep).where("reached").select("node")


def _assign_bridges(
    u: np.ndarray,
    r: np.ndarray,
    dist: np.ndarray,
    rank: np.ndarray,
    rounds: int,
    cap: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Capacity-capped bridge assignment over candidate rows ``(u, r,
    dist, rank)`` by deferred acceptance; returns the ``(u, r)`` bridges.

    Each round, every unassigned ``u`` proposes to its best-ranked host
    that still has capacity, and each host accepts its proposals ordered
    by (dist, u) up to its remaining capacity; at most ``rounds`` rounds,
    stopping early once a round assigns nothing or no ``u`` is left.
    Fallback: a node whose every candidate host is full bridges anyway —
    reachability beats the cap — but SPREAD across its candidate list
    (the row with ``rank == 1 + u mod n_cand``) instead of
    re-concentrating on everyone's shared 1-NN, so residual hub degree
    is bounded by ~n_leftover / n_cand + cap, not n_leftover."""
    order = np.lexsort((rank, u))
    u, r, dist, rank = u[order], r[order], dist[order], rank[order]
    uids, u_ix = np.unique(u, return_inverse=True)
    hosts, h_ix = np.unique(r, return_inverse=True)
    open_u = np.ones(len(uids), dtype=bool)
    load = np.zeros(len(hosts), dtype=np.int64)
    taken = []
    for _ in range(rounds):
        live = np.flatnonzero(open_u[u_ix] & (load[h_ix] < cap))
        # rows are (u, rank)-sorted: each open u's first live row is its
        # best-ranked host with capacity left
        prop = live[np.unique(u_ix[live], return_index=True)[1]]
        prop = prop[np.lexsort((u[prop], dist[prop], h_ix[prop]))]
        ph = h_ix[prop]
        slot = np.arange(len(ph)) - np.searchsorted(ph, ph)  # rank within host
        take = prop[slot < cap - load[ph]]
        if not len(take):
            break  # no capacity anywhere among remaining candidates
        np.add.at(load, h_ix[take], 1)
        open_u[u_ix[take]] = False
        taken.append(take)
        if not open_u.any():
            break
    n_cand = np.zeros(len(uids), dtype=np.int64)
    np.maximum.at(n_cand, u_ix, rank)
    fallback = np.flatnonzero(open_u[u_ix] & (rank == 1 + np.mod(u, n_cand[u_ix])))
    rows = np.concatenate(taken + [fallback])
    return u[rows], r[rows]


def repair_reachability(
    base_df: DataFrame,
    adj_df: DataFrame,
    ep: int,
    metric: str,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    bridge_candidates: int = 8,
    max_bridges_per_host: int = 64,
) -> tuple[DataFrame, int]:
    """Make every base node reachable from the entry point — the LIVE
    analog of the reference's dead connectivity-repair pass
    (CollectPoints/dfs/findroot, src/index_bipartite.cpp:2521-2604,
    commented out of BuildRoarGraph at :211).

    Clustered data can leave the projection graph with components the
    medoid-seeded build never bridges (training queries' kNN lists stay
    in-cluster), and an unreachable node can NEVER be returned by a
    search. Repair: (1) BFS marks the reached set; (2) each unreached
    node finds its ``bridge_candidates`` nearest reached nodes (a
    filtered kNN join — cost |unreached| x |reached| GEMM, zero when the
    audit passes); (3) bridges are assigned CAPACITY-CAPPED — at most
    ``max_bridges_per_host`` per reached host, filled closest-first
    across candidate ranks, with an uncapped spread fallback so the
    guarantee never fails (``_assign_bridges``). The cap exists because
    the naive 1-NN assignment funnels a whole under-covered region
    through the single boundary node nearest it (the 300k scale
    rehearsal produced a 12,491-degree hub that both stalled searches —
    every beam expansion touching it scans 12k neighbors — and
    over-concentrated entry into the region); (4) add the bridge edges
    r->u and u->r by array_union — append-only, no re-prune, so no
    existing edge is evicted and the guarantee can't un-make itself.
    Returns (repaired adjacency, n_unreached_before).

    Job shape is fixed — it grows with neither the graph's diameter nor
    the number of acceptance rounds: a staged write of the adjacency,
    ONE single-partition BFS task (checkpointed) and its unreached
    count; then, only when nodes are unreached, the bridge kNN join and
    ONE single-partition assignment task (checkpointed). Memory bounds:
    the BFS task holds the whole-graph CSR (what every phase-4 search
    worker already loads) and the assignment task holds the
    |unreached| x ``bridge_candidates`` candidate rows.
    """
    from mysteryann_spark.operators.knn import knn_join

    marks = _reach_marks(adj_df, ep).localCheckpoint(eager=True)
    reached = marks.where("reached").select("node")
    unreached = marks.where(~F.col("reached")).select("node")
    n_unreached = unreached.count()
    if n_unreached == 0:
        return adj_df, 0

    reached_vecs = base_df.join(
        reached.select(F.col("node").alias(base_id)), base_id, "left_semi"
    )
    u_queries = base_df.join(
        unreached.select(F.col("node").alias(base_id)), base_id, "left_semi"
    ).select(F.col(base_id).alias("qid"), vec_col)
    # Auto-widen the candidate pool toward the needed capacity: a far
    # unreached cluster sees nearly the SAME nearest hosts from every
    # node, so k candidates expose at most ~k distinct hosts — k must
    # grow with n_unreached / cap or the cap can't be honored.
    import math

    bridge_candidates = min(
        64, max(bridge_candidates, math.ceil(n_unreached / max_bridges_per_host))
    )
    cand = knn_join(
        u_queries, reached_vecs, k=bridge_candidates, metric=metric,
        query_id="qid", base_id=base_id, vec_col=vec_col,
    ).select(
        F.col("qid").alias("u"), F.col("nn_id").alias("r"), "dist", "rank"
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        bu, br = _assign_bridges(
            pdf["u"].to_numpy(np.int64), pdf["r"].to_numpy(np.int64),
            pdf["dist"].to_numpy(np.float64), pdf["rank"].to_numpy(np.int64),
            bridge_candidates, max_bridges_per_host,
        )
        yield pd.DataFrame({"u": bu, "r": br})

    bridges = (
        cand.coalesce(1).mapInPandas(assign, "u bigint, r bigint").localCheckpoint(eager=True)
    )

    new_edges = bridges.select(F.col("r").alias("node"), F.col("u").alias("nbr")).unionByName(
        bridges.select(F.col("u").alias("node"), F.col("r").alias("nbr"))
    )
    additions = new_edges.groupBy("node").agg(F.collect_set("nbr").alias("add_nbrs"))
    repaired = (
        adj_df.join(additions, "node", "left_outer")
        .select(
            "node",
            F.when(
                F.col("add_nbrs").isNull(), F.col("nbrs")
            ).otherwise(F.array_union("nbrs", "add_nbrs")).alias("nbrs"),
        )
    )
    return repaired, n_unreached


def build_roargraph(
    base_df: DataFrame,
    queries_df: DataFrame,
    params: IndexParams,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    ensure_reachable: bool = False,
    expand_width: int = 1,
    phase0: str = "exact",
    phase0_opts: dict | None = None,
    knn_df: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Returns (projection adjacency ``(node, nbrs)``, entry point id).

    base_df: ``(vec_id, embedding)`` base vectors; queries_df:
    ``(qid, embedding)`` sampled training queries from the other modality.
    ``expand_width`` feeds the phase-4 connectivity beam search (1 =
    reference-strict; wider cuts lockstep rounds for big builds,
    recall-gated where used).

    ``phase0`` picks the training-kNN source: ``"exact"`` is the blocked
    full GEMM (J1 — quadratic in n, the build's only super-linear stage);
    ``"ivf"`` routes through coarse centroids (operators/knn_approx.py,
    ~n_probe/n_centroids of the flops) — the self-contained analog of the
    reference consuming PRECOMPUTED ground truth at 10M scale instead of
    computing exact kNN in-line (LoadLearnBaseKNN,
    src/index_bipartite.cpp:2622-2639; prepare_data.sh:29). The resulting
    graph's recall is gated against the exact-phase-0 build in
    tests/test_graph.py; ``phase0_opts`` passes n_centroids/n_probe/...
    through to ivf_knn_join.

    ``knn_df`` supplies a PRECOMPUTED training-kNN table
    ``(qid, nn array, dists array)`` and skips phase 0 entirely — the
    direct analog of the reference LOADING its ground-truth file as
    build input (LoadLearnBaseKNN, src/index_bipartite.cpp:2622-2639,
    fetched by prepare_data.sh:29) rather than computing it in-line.
    This is also the multi-session segmentation point for 10^8-order
    builds: run phase 0 once, persist the table, and resume the
    remaining phases from it (tools/scale_rehearsal.py
    SCALE_PHASE0_DIR). ``queries_df`` is unused on this path — every
    later phase reads only ``knn_df`` and ``base_df``.
    """
    metric = params.metric

    # --- entry point (CalculateProjectionep, :2004-2041) on a background
    # thread: it reads only base_df, so its two small jobs overlap the
    # phase 0-3 jobs instead of serializing after them (Spark schedules
    # concurrent jobs from separate driver threads; local[32] has slack).
    import threading

    ep_box: dict[str, int] = {}

    def _medoid() -> None:
        ep_box["ep"] = medoid(base_df, base_id, vec_col)[0]

    ep_thread = threading.Thread(target=_medoid, name="medoid")
    ep_thread.start()

    # The staged base copy (shared by all three prune calls + the phase-4
    # search) reads only base_df, so its O(n) distributed write OVERLAPS
    # the phase-0 jobs on a second driver thread instead of serializing
    # after them (guide §2.6 — same pattern as the medoid above; Spark
    # schedules concurrent jobs from separate driver threads).
    from mysteryann_spark.sources.staging import stage_parquet

    stage_box: dict = {}

    def _stage_base() -> None:
        try:
            stage_box["path"] = stage_parquet(
                base_df.select(F.col(base_id), F.col(vec_col))
            )
        except BaseException as e:  # re-raised on join below
            stage_box["err"] = e

    stage_thread = threading.Thread(target=_stage_base, name="stage-base")
    stage_thread.start()

    # both threads are joined on every exit path: a phase 0-3 failure
    # must not leave their jobs running behind the raised error
    try:
        # --- phase 0: kNN of every training query into the base set
        # (the table the reference loads as learn_base_knn_, :2622-2639)
        if knn_df is not None:
            knn = knn_df
        elif phase0 == "exact":
            knn = knn_join_arrays(
                queries_df, base_df, params.M_sq, metric,
                base_id=base_id, vec_col=vec_col,
            )
        elif phase0 == "ivf":
            from mysteryann_spark.operators.knn_approx import ivf_knn_join_arrays

            knn = ivf_knn_join_arrays(
                queries_df, base_df, params.M_sq, metric,
                base_id=base_id, vec_col=vec_col, **(phase0_opts or {}),
            )
        else:
            raise ValueError(f"unknown phase0 mode {phase0!r} (exact|ivf)")

        # one staged copy of the base serves all three prune calls (the
        # pools shuffle bare id pairs and the kernels look vectors up here);
        # written concurrently with phase 0 above
        stage_thread.join()
        if "err" in stage_box:
            raise stage_box["err"]
        staged_base = stage_box["path"]

        # --- phase 1: target = 1-NN; rest of the list -> target's pool
        tgt = F.element_at("nn", 1)
        phase1_cands = (
            knn.select(tgt.alias("node"), F.explode(F.slice("nn", 2, params.M_sq)).alias("cand_id"))
            .where(F.col("cand_id") != F.col("node"))
        )
        adj1 = prune_candidates(phase1_cands, base_df, params.M_pjbp, metric,
                                base_id=base_id, vec_col=vec_col,
                                staged_base=staged_base)
        # checkpoint BEFORE _prune_merged: it references its input twice
        # (forward + reversed edges), and Spark does not reuse the shuffle
        # under the mapInPandas subtree across the two branches — without
        # the cut, phase 0 + phase 1 execute twice in one query (measured at
        # 10^7: two full probe/score map stages, 2x the candidate shuffle on
        # disk — ~40 GB of duplicate shuffle was the run's disk ceiling).
        # adj1 itself is ~n x M_pjbp ids: two orders lighter than its lineage.
        adj1 = adj1.localCheckpoint()

        # --- phases 2+3: reverse edges + re-prune overfull nodes
        adj3 = _prune_merged(_edges(adj1), base_df, params.M_pjbp, metric,
                             staged_base=staged_base)
        # ONE staged parquet write both cuts adj3's lineage (phase 4 + the
        # merged prune reference it; un-cut, phases 0-3 would re-execute) and
        # IS the phase-4 search's staged adjacency — previously adj3
        # materialized twice per build (a localCheckpoint job plus a separate
        # stage_parquet job of identical content). Values are unchanged:
        # parquet round-trips the exact (node, nbrs) longs, and every
        # consumer joins/aggregates by id, not row order.
        adj3_path = stage_parquet(adj3)
        adj3 = base_df.sparkSession.read.schema(
            "node bigint, nbrs array<bigint>"
        ).parquet(adj3_path)
    finally:
        stage_thread.join()
        ep_thread.join()
    ep = ep_box["ep"]

    # --- phase 4: connectivity enhancement — beam-search the projection
    # graph from the medoid for every base node, prune visited set
    from mysteryann_spark.operators.search import search_graph
    from mysteryann_spark.session import spread

    # every base node is a "query" here and the beam loop is pure compute:
    # seconds-per-partition, so spreading an under-partitioned input wins
    # (measured 2x at sf0.1) — unlike the GEMM paths, see session.spread.
    # Reuse the prune phases' staged base AND adj3's own staged write for
    # the search index: without ``staged`` the call re-writes the FULL
    # base and adjacency to fresh staged copies (O(n) duplicate writes
    # per build — same parquet layout, same id-sorted worker artifact, so
    # results are bit-identical either way).
    visited = search_graph(
        spread(base_df.select(F.col(base_id).alias("qid"), vec_col)),
        base_df,
        adj3,
        ep,
        k=params.L_pjpq,
        l_search=params.L_pjpq,
        metric=metric,
        base_id=base_id,
        vec_col=vec_col,
        expand_width=expand_width,
        staged=(staged_base, adj3_path),
    )
    supply_cands = visited.select(
        F.col("qid").alias("node"), F.col("nn_id").alias("cand_id")
    ).where(F.col("cand_id") != F.col("node"))

    # --- phases 4+5 epilogue, fused: ONE occlusion prune at the final cap
    # over (projection edges ∪ supply candidates ∪ both reverses) replaces
    # the reference's separate supply prune + priority-merge (:1251-1269).
    # Deviation: projection edges compete under occlusion instead of being
    # merged first — one prune job instead of prune + full_outer join, and
    # the diversity rule applies to the union pool. Gated by the same
    # recall/degree/determinism tests that gate the other build deviations.
    merged = _prune_merged(
        _edges(adj3).unionByName(supply_cands),
        base_df,
        params.degree_cap,
        metric,
        staged_base=staged_base,
    )
    if ensure_reachable:
        # post-build connectivity audit + repair (a fixed handful of jobs:
        # one-task BFS; bridge kNN + one-task assignment only when
        # components exist). Opt-in: testdata graphs are connected
        # (test-asserted), and the audit costs real wall-clock on every
        # build.
        merged, _ = repair_reachability(
            base_df, merged.localCheckpoint(), ep, metric,
            base_id=base_id, vec_col=vec_col,
        )
    return merged, ep


def build_roargraph_from_table(
    spark: SparkSession,
    emb_df: DataFrame,
    params: IndexParams,
    n_queries: int | None = None,
    ensure_reachable: bool = False,
    expand_width: int = 1,
    phase0: str = "exact",
    phase0_opts: dict | None = None,
    knn_df: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Convenience split for testdata: every embedding is a base point;
    training queries are a deterministic prefix (vec_id < n_queries) —
    the reference's sampled-query set drawn from the query distribution."""
    base = emb_df.select("vec_id", "embedding")
    q = emb_df.select(F.col("vec_id").alias("qid"), "embedding")
    if n_queries is not None:
        q = q.where(F.col("qid") < n_queries)
    return build_roargraph(
        base, q, params, ensure_reachable=ensure_reachable,
        expand_width=expand_width, phase0=phase0, phase0_opts=phase0_opts,
        knn_df=knn_df,
    )


def insert_into_roargraph(
    base_df: DataFrame,
    adj_df: DataFrame,
    ep: int,
    new_df: DataFrame,
    params: IndexParams,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    staged_base: "StagedBase | None" = None,
    return_delta: bool = False,
    staged_adj: "str | list[str] | None" = None,
) -> tuple[DataFrame, int]:
    """Batch-incremental insertion: add ``new_df`` vectors to an existing
    projection graph WITHOUT a full rebuild. ``return_delta=True``
    additionally returns the changed-rows-only adjacency (new nodes +
    re-pruned reverse-touched nodes) as a third element — the batch-sized
    artifact the delta-staging search path consumes
    (``sources.staging.read_staged_multi``).

    The reference is build-once/static (BuildRoarGraph rebuilds from
    scratch; no insert API exists in src/index_bipartite.cpp) — this is
    the standard graph-ANN maintenance extension, the same recipe as the
    build's own connectivity phase (G4 phase 4, :1192-1248) applied to
    the incoming batch:

    1. Beam-search the EXISTING graph for every new vector — its visited
       set is the candidate pool (exactly how phase 4 harvests pools).
    2. Occlusion-prune each pool to the degree cap -> new node's nbrs.
    3. Reverse-link: nodes receiving a reverse edge are re-pruned over
       (their old nbrs ∪ incoming new ids) at the cap — the batch form
       of ProjectionAddReverse (:1391-1432); untouched rows pass through
       unchanged, so the cost scales with |batch| * degree, not |graph|.
    4. Entry point is unchanged: the medoid of base ∪ batch drifts
       negligibly for sane batch sizes, and recomputing it is a full
       base scan — callers doing bulk loads should rebuild instead.

    New ids must be disjoint from existing ids (enforced). Returns the
    merged ``(node, nbrs)`` adjacency and the (unchanged) entry point.

    ``staged_base`` (a ``sources.staging.StagedBase`` over the CURRENT
    base, excluding ``new_df``) lets maintenance loops amortize staging:
    the batch's vectors are APPENDED to it as a delta (cost ∝ |batch|)
    and both prune calls plus the beam search share the staged set,
    instead of each call re-staging the full base — previously every
    streaming micro-batch paid an O(|graph|) write + per-worker matrix
    rebuild twice, defeating the docstring's |batch|-scaling claim. When
    omitted, the base∪batch set is staged once and shared across the
    three kernel calls of this one invocation.

    ``staged_adj`` (a staged path or the StagedBase-style CHAIN of
    [full, delta...] paths for the CURRENT adjacency) kills the last
    O(|graph|) per-batch cost: without it every call re-stages the full
    adjacency to parquet just so its internal beam search can load it —
    the measured floor of the 10^7 per-batch insert wall (SCALE.md).
    With it the search reads the caller's chain directly (later paths
    override; worker artifacts patch incrementally —
    staging.load_staged_graph), and the caller appends only the returned
    delta per batch.
    """
    from mysteryann_spark.operators.search import search_graph
    from mysteryann_spark.session import spread
    from mysteryann_spark.sources.staging import StagedBase, stage_parquet

    metric = params.metric
    new_sel = new_df.select(base_id, vec_col)
    clash = new_sel.join(
        base_df.select(base_id), base_id, "left_semi"
    ).count()
    if clash:
        raise ValueError(f"{clash} new ids already exist in the base set")
    all_vec = base_df.select(base_id, vec_col).unionByName(new_sel)

    if staged_base is None:
        staged_base = StagedBase.of(base_df.select(base_id, vec_col))
    if staged_adj is None:
        staged_adj = stage_parquet(adj_df)
    adj_paths = [staged_adj] if isinstance(staged_adj, str) else list(staged_adj)

    # 1: candidate pools from a beam search of the current graph
    visited = search_graph(
        spread(new_sel.select(F.col(base_id).alias("qid"), vec_col)),
        base_df,
        adj_df,
        ep,
        k=params.L_pjpq,
        l_search=params.L_pjpq,
        metric=metric,
        base_id=base_id,
        vec_col=vec_col,
        staged=(list(staged_base.paths), adj_paths),
    )
    new_cands = visited.select(
        F.col("qid").alias("node"), F.col("nn_id").alias("cand_id")
    ).where(F.col("cand_id") != F.col("node"))

    # the batch delta joins the staged set; both prunes need base ∪ batch
    staged_base.append(new_sel)

    # 2: each new node's adjacency
    new_adj = prune_candidates(
        new_cands, all_vec, params.M_pjbp, metric, base_id=base_id,
        vec_col=vec_col, staged_base=list(staged_base.paths),
    )

    # 3: reverse edges into touched existing nodes, re-pruned at the cap
    rev = _edges(new_adj).select(
        F.col("cand_id").alias("node"), F.col("node").alias("cand_id")
    )
    touched = rev.select("node").distinct()
    old_touched_edges = _edges(adj_df).join(touched, "node", "left_semi")
    pruned_touched = prune_candidates(
        old_touched_edges.unionByName(rev),
        all_vec,
        params.degree_cap,
        metric,
        base_id=base_id,
        vec_col=vec_col,
        staged_base=list(staged_base.paths),
    )

    untouched = adj_df.join(touched, "node", "left_anti")
    delta = pruned_touched.unionByName(new_adj)
    merged = untouched.unionByName(delta)
    if return_delta:
        # the changed-rows-only view (re-pruned touched nodes + the new
        # nodes, ∝ batch × degree): a maintenance loop stages THIS per
        # batch and searches through [full_adj_path, *delta_paths] via
        # read_staged_multi's later-overrides merge, instead of paying
        # the O(|graph|) full-adjacency republish each batch — the
        # measured floor of the 10^7 per-batch insert wall (SCALE.md).
        return merged, ep, delta
    return merged, ep


def delete_from_roargraph(
    base_df: DataFrame,
    adj_df: DataFrame,
    ep: int,
    delete_df: DataFrame,
    params: IndexParams,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    ensure_reachable: bool = False,
    staged_base: "StagedBase | None" = None,
    return_delta: bool = False,
) -> tuple[DataFrame, DataFrame, int]:
    """Batch deletion with neighborhood splicing — the maintenance twin
    of ``insert_into_roargraph``. The reference is build-once/static (no
    delete API in src/index_bipartite.cpp); this is the standard
    graph-ANN repair (the FreshDiskANN delete recipe, batch-expressed):

    1. Drop the deleted nodes' adjacency rows.
    2. Every surviving node u that pointed at a deleted d SPLICES d's
       surviving out-neighbors into its pool (u keeps connectivity
       through the hole d leaves), then occlusion-prunes back to the
       degree cap. Cost ∝ (reverse-degree of the batch) x degree —
       scales with |batch|, not |graph|.
    3. Nodes with no deleted neighbor pass through untouched.
    4. If the entry point itself was deleted, re-seed it as the medoid
       of the survivors (a scalar-sized collect, knn.medoid).

    Returns ``(surviving_base_df, new_adjacency, new_ep)``. Every
    surviving node keeps an adjacency row (empty-pool stragglers get an
    explicit empty list; ``ensure_reachable=True`` then bridges them via
    the capacity-capped repair pass).

    ``staged_base`` (``sources.staging.StagedBase`` over the current
    base) is reused as-is for the repair prune — deleted ids keep their
    staged rows, which is inert (pools reference survivors only), so a
    maintenance loop never re-stages on deletes.

    ``return_delta=True`` additionally returns the changed-rows-only
    adjacency (re-pruned touched survivors + empty-list tombstones for
    the deleted nodes) as a fourth element, for delta-staged chains
    (``staging.read_staged_multi``); incompatible with
    ``ensure_reachable`` (repair touches arbitrary rows).
    """
    if return_delta and ensure_reachable:
        raise ValueError(
            "return_delta cannot be combined with ensure_reachable: "
            "reachability repair changes rows outside the touched set"
        )
    dels = delete_df.select(F.col(base_id).alias("del_id")).distinct()
    survivors = base_df.join(
        dels, base_df[base_id] == dels["del_id"], "left_anti"
    )
    if survivors.limit(2).count() < 2:
        raise ValueError("delete_from_roargraph: fewer than 2 survivors")

    edges = _edges(adj_df)
    kept = edges.join(dels, edges["node"] == dels["del_id"], "left_anti")
    # (u, d) pairs: surviving u pointing at deleted d
    aff = kept.join(dels, kept["cand_id"] == dels["del_id"], "left_semi")
    # d's out-edges, deleted endpoints dropped (d -> w, w survives)
    del_out = (
        edges.join(dels, edges["node"] == dels["del_id"], "left_semi")
        .select(F.col("node").alias("mid"), "cand_id")
        .join(dels, F.col("cand_id") == dels["del_id"], "left_anti")
    )
    spliced = (
        aff.select("node", F.col("cand_id").alias("mid"))
        .join(del_out, "mid")
        .select("node", "cand_id")
        .where(F.col("cand_id") != F.col("node"))
    )
    clean = kept.join(dels, kept["cand_id"] == dels["del_id"], "left_anti")
    touched = aff.select("node").distinct()
    pools = clean.join(touched, "node", "left_semi").unionByName(spliced)
    repaired = prune_candidates(
        pools, survivors, params.degree_cap, params.metric,
        base_id=base_id, vec_col=vec_col,
        staged_base=list(staged_base.paths) if staged_base is not None else None,
    )
    untouched = adj_df.join(dels, adj_df["node"] == dels["del_id"], "left_anti").join(
        touched, "node", "left_anti"
    )
    merged = untouched.unionByName(repaired)
    # guard: a touched node whose whole pool vanished keeps an explicit row
    all_nodes = survivors.select(F.col(base_id).alias("node"))
    merged = all_nodes.join(merged, "node", "left").select(
        "node",
        F.coalesce("nbrs", F.array().cast("array<bigint>")).alias("nbrs"),
    )

    new_ep = ep
    if dels.where(F.col("del_id") == ep).limit(1).count():
        from mysteryann_spark.operators.knn import medoid

        new_ep = medoid(survivors, base_id=base_id, vec_col=vec_col)[0]
    if ensure_reachable:
        merged, _ = repair_reachability(
            survivors, merged, new_ep, params.metric,
            base_id=base_id, vec_col=vec_col,
        )
    if return_delta:
        # changed-rows-only view for delta-staged adjacency chains
        # (∝ reverse-degree of the batch, not |graph|): the re-pruned
        # touched survivors (empty-pool stragglers included, same guard
        # as `merged`) plus a TOMBSTONE row (empty nbrs) per deleted
        # node — in read_staged_multi's later-overrides merge the
        # tombstone makes the deleted node unreachable (nothing links to
        # it after the splice), which is CSR-equivalent to dropping the
        # row. ensure_reachable callers must not use the delta (repair
        # may touch arbitrary rows); rejected on entry.
        touched_rows = touched.join(merged, "node", "left").select(
            "node",
            F.coalesce("nbrs", F.array().cast("array<bigint>")).alias("nbrs"),
        )
        tombstones = dels.select(
            F.col("del_id").alias("node"),
            F.array().cast("array<bigint>").alias("nbrs"),
        )
        return survivors, merged, new_ep, touched_rows.unionByName(tombstones)
    return survivors, merged, new_ep
