"""RoarGraph build + search registry entries — SURVEY.md §2.9 G4, §2.10 Q1.

These are the genuinely non-SQL-expressible operators (iterative occlusion
pruning, best-first graph traversal): mostly no ``oracle_sql`` entry, so
the driver records the weaker rows-only check (exception:
``roargraph_degrees`` carries a pinned-VALUES hash oracle — the build is
deterministic and the testdata seed-pinned). Their quality gates live in
``tests/test_graph.py`` instead, mirroring the reference's own methodology
(recall against exact ground truth — tests/test_search_roargraph.cpp:23-36):
recall@10 >= 0.95 at the registered build parameters, degree caps
respected, deterministic across rebuilds.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysteryann_spark.operators.projection import build_roargraph_from_table
from mysteryann_spark.operators.search import search_graph
from mysteryann_spark.params import IndexParams
from mysteryann_spark.queries.base import QuerySpec
from mysteryann_spark.sources.staging import scratch_dir
from mysteryann_spark.sources.tables import load_table

# Registered build config (scaled-down run_roargraph_test.sh:5-10 shape).
PARAMS = IndexParams(M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="l2")
# The reference's flagship run is dist=ip (run_roargraph_test.sh:7) — the
# same knobs under negated inner product.
PARAMS_IP = IndexParams(M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="ip")
# The webvid flagship is metric=cosine — normalize-then-IP
# (src/index_bipartite.cpp:35-37,71-77; prepare_for_clip_webvid.py). The
# third and last reference metric, registered so it runs under the
# driver's eye; its recall gate is test_build_and_search_cosine_metric.
PARAMS_COSINE = IndexParams(M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="cosine")
# Registered opts for the sub-quadratic IVF phase 0 (knn_approx.py):
# n_probe=16 holds the graph-recall-within-0.01 gate on testdata
# (tests/test_graph.py::test_ivf_phase0_build_recall_within_gate);
# n_centroids defaults to ~sqrt(n_base) inside ivf_knn_join.
IVF_PHASE0_OPTS = {"n_probe": 16}
_N_SEARCH_QUERIES = 50


_BUILD_CACHE: dict = {}


def _build(
    spark: SparkSession,
    sf_dir: str,
    params: IndexParams = PARAMS,
    phase0: str = "exact",
):
    """Build once per (session, sf_dir, metric, phase0): the registry
    entries share the same index, and the driver's correctness gate runs
    them all in one session — rebuilding an identical (deterministic,
    tested) graph per query would quadruple gate time for no
    information."""
    key = (id(spark.sparkContext), sf_dir, params.metric, phase0)
    if key not in _BUILD_CACHE:
        emb = load_table(spark, "embeddings", sf_dir).cache()
        adj, ep = build_roargraph_from_table(
            spark, emb, params, phase0=phase0,
            phase0_opts=IVF_PHASE0_OPTS if phase0 == "ivf" else None,
        )
        _BUILD_CACHE[key] = (emb, adj.localCheckpoint(), ep)
    return _BUILD_CACHE[key]


def roargraph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree of the built projection graph (the reference's
    post-build degree audit, src/index_bipartite.cpp:1143-1179).
    Hash-oracled against a PINNED expected table: the build is
    deterministic and the driver testdata is seed-pinned, so the sf0.01
    degree table is a constant (tools/gen_pinned_oracles.py regenerates
    it after intentional build-semantics changes)."""
    _, adj, _ = _build(spark, sf_dir)
    return adj.select("node", F.size("nbrs").cast("bigint").alias("degree"))


def roargraph_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k beam-search results for the query slice (qid < 50)."""
    emb, adj, ep = _build(spark, sf_dir)
    q = emb.where(F.col("vec_id") < _N_SEARCH_QUERIES).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    res = search_graph(
        q, emb, adj.localCheckpoint(), ep,
        k=PARAMS.k, l_search=PARAMS.L_pq, metric=PARAMS.metric,
    )
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank", "cmps", "hops")


def roargraph_search_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over a graph BUILT AND SEARCHED under negated inner
    product — the reference's flagship configuration (dist=ip,
    run_roargraph_test.sh:7). Rows-only; the recall gate for this metric
    lives in tests/test_graph.py (test_build_and_search_ip_metric)."""
    emb, adj, ep = _build(spark, sf_dir, PARAMS_IP)
    q = emb.where(F.col("vec_id") < _N_SEARCH_QUERIES).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    res = search_graph(
        q, emb, adj.localCheckpoint(), ep,
        k=PARAMS_IP.k, l_search=PARAMS_IP.L_pq, metric=PARAMS_IP.metric,
    )
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank", "cmps", "hops")


def roargraph_search_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over a graph BUILT AND SEARCHED under cosine — the
    reference's webvid flagship (normalize-then-IP,
    src/index_bipartite.cpp:35-37; prepare_for_clip_webvid.py pipeline).
    Rows-only; the recall gate at these registered params lives in
    tests/test_graph.py (test_build_and_search_cosine_metric)."""
    emb, adj, ep = _build(spark, sf_dir, PARAMS_COSINE)
    q = emb.where(F.col("vec_id") < _N_SEARCH_QUERIES).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    res = search_graph(
        q, emb, adj.localCheckpoint(), ep,
        k=PARAMS_COSINE.k, l_search=PARAMS_COSINE.L_pq, metric=PARAMS_COSINE.metric,
    )
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank", "cmps", "hops")


def roargraph_build_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph build with the SUB-QUADRATIC phase 0: training kNN routed
    through IVF coarse centroids + exact per-list refine
    (operators/knn_approx.py) instead of the full exact GEMM — the
    self-contained analog of the reference consuming precomputed GT at
    10M scale (LoadLearnBaseKNN, src/index_bipartite.cpp:2622-2639;
    prepare_data.sh:29). Returns search results THROUGH the ivf-built
    graph. Rows-only; the recall-within-0.01-of-exact-built gate lives in
    tests/test_graph.py (test_ivf_phase0_build_recall_within_gate)."""
    emb, adj, ep = _build(spark, sf_dir, PARAMS, phase0="ivf")
    q = emb.where(F.col("vec_id") < _N_SEARCH_QUERIES).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    res = search_graph(
        q, emb, adj.localCheckpoint(), ep,
        k=PARAMS.k, l_search=PARAMS.L_pq, metric=PARAMS.metric,
    )
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank")


def roargraph_search_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-join (Pregel-style) rendering of the beam search — the
    scale path for indexes beyond executor memory. Bit-identical to the
    broadcast path (tests/test_graph.py parity test); registered on a
    small query slice because each best-first hop is a join round."""
    from mysteryann_spark.operators.search_distributed import search_graph_distributed

    emb, adj, ep = _build(spark, sf_dir)
    # small slice + beam: every best-first hop is a driver-synchronized
    # join round, so this entry demonstrates the operator; the bit-parity
    # vs the broadcast path is gated in tests/test_graph.py
    q = emb.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding")
    # max_degree deliberately NOT passed: connectivity repair may bridge
    # past the 2*M_pjbp cap (projection.py — reachability beats the cap),
    # so the guaranteed bound is the measured max(size(nbrs)) — one tiny
    # agg at this scale.
    res = search_graph_distributed(
        q, emb, adj.localCheckpoint(), ep, k=5, l_search=6, metric=PARAMS.metric,
    )
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank", "cmps", "hops")


def roargraph_search_distributed_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frontier-BATCHED variant (expand_width=4): each round expands
    up to 4 unexpanded pool entries per query, cutting the dominant
    scale cost — driver-synchronized join rounds — ~4x (measured 10⁷:
    width 8 turned 260 rounds into 37 at unchanged recall, SCALE.md).
    Rounds are a function of the beam, NOT the batch — measured at 10⁷
    through the reference's own 10k-query protocol size: 71-72 rounds
    at every batch from 200 to 10,000 queries, so QPS amortizes 0.86 →
    2.31 → 5.1 with bit-parity (0 differing rows) at each point
    (SCALE.md r11). Deterministic given the seeded build, so pinned;
    the recall gate vs strict best-first lives in tests/test_graph.py
    (test_distributed_search_frontier_batched_width)."""
    from mysteryann_spark.operators.search_distributed import search_graph_distributed

    emb, adj, ep = _build(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph_distributed(
        q, emb, adj.localCheckpoint(), ep, k=5, l_search=8, metric=PARAMS.metric,
        expand_width=4,
    )
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank", "cmps", "hops")


def bipartite_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: 2-hop beam search over the bipartite graph with 10 seeded
    random entry points (SearchBipartiteGraph,
    src/index_bipartite.cpp:282-356; the reference's random_device seeds
    made deterministic)."""
    from mysteryann_spark.operators.bipartite import build_bipartite
    from mysteryann_spark.operators.knn import knn_join_arrays
    from mysteryann_spark.operators.search import search_bipartite

    emb = load_table(spark, "embeddings", sf_dir)
    base_count = emb.count()
    q_all = emb.select(F.col("vec_id").alias("qid"), "embedding")
    knn = knn_join_arrays(q_all, emb, PARAMS.M_sq, PARAMS.metric)
    adj = build_bipartite(knn, m=PARAMS.M_sq, base_count=base_count).localCheckpoint()
    q = emb.where(F.col("vec_id") < _N_SEARCH_QUERIES).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    res = search_bipartite(
        q, emb, adj, base_count=base_count,
        k=PARAMS.k, l_search=PARAMS.L_pq, metric=PARAMS.metric,
    )
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank", "cmps", "hops")


def roargraph_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's headline evaluation (run_roargraph_search_test.sh):
    recall@k / QPS / latency / avg cmps / avg hops per L_pq sweep point,
    at the reference's FULL sweep protocol — the exact 56-value L_pq list
    of run_roargraph_search_test.sh:14 (10..2000). The staged index is
    shared across points, so each extra point costs one search pass only;
    the high-L tail (where the recall/QPS trade-off flattens) is the
    published curve's right half. Rows-only (timings aren't SQL);
    recall monotonicity + floor gated in tests."""
    from mysteryann_spark.operators.sweep import search_sweep

    emb, adj, ep = _build(spark, sf_dir)
    q = emb.where(F.col("vec_id") < _N_SEARCH_QUERIES).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return search_sweep(q, emb, adj, ep, k=PARAMS.k, l_values=_SWEEP_L_VALUES,
                        metric=PARAMS.metric)


# run_roargraph_search_test.sh:14 verbatim — the full 56-point protocol
_SWEEP_L_VALUES = (
    list(range(10, 101, 5))
    + list(range(110, 201, 10))
    + list(range(220, 301, 20))
    + list(range(350, 801, 50))
    + list(range(900, 2001, 100))
)


def roargraph_sweep_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC half of the sweep protocol, split out so it can
    carry a hash oracle: recall@k, rderr, avg cmps and avg hops per L_pq
    are machine-independent constants of the seeded testdata (the
    lockstep beam evolves identically on every run), while QPS/latency
    are wall-clock. This mirrors the reference's own CSV split — its
    recall/cmps/hops columns are machine-independent, QPS/latency are
    not (tests/test_search_roargraph.cpp:190,231-232). The timing
    columns remain in the rows-only ``roargraph_sweep`` entry."""
    from mysteryann_spark.operators.sweep import search_sweep

    emb, adj, ep = _build(spark, sf_dir)
    q = emb.where(F.col("vec_id") < _N_SEARCH_QUERIES).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    res = search_sweep(q, emb, adj, ep, k=PARAMS.k, l_values=_SWEEP_L_VALUES,
                       metric=PARAMS.metric)
    return res.select("l_pq", "recall", "rderr", "avg_cmps", "avg_hops")


def filtered_search_graph(
    spark: SparkSession,
    emb: DataFrame,
    adj: DataFrame,
    ep: int,
    q: DataFrame,
    k: int,
    l_floor: int,
    metric: str,
    *,
    slack: float = 1.5,
    min_label_freq: float = 0.02,
    max_widen: int = 100,
) -> DataFrame:
    """Selectivity-AWARE filtered graph ANN: per-label over-retrieval.

    The widening factor is derived from measured label frequencies (one
    tiny agg over the base, collected — label cardinality is small by
    construction), not a fixed guess: a query whose label covers 10% of
    the base widens 10x·slack; a 2% label widens 50x·slack. Labels below
    ``min_label_freq`` (or needing more than ``max_widen``x) skip the
    graph entirely and run the EXACT filtered kNN (knn_join match_col) —
    over-retrieving a rare label through a label-agnostic index silently
    loses recall, and the exact path over a rare label's scan is cheap by
    the same selectivity. One graph pass serves all graph-routed labels
    (widened to the largest factor any of them needs); skewed-label
    recall is gated in tests/test_graph.py.
    """
    from pyspark.sql import Window

    from mysteryann_spark.operators.knn import knn_join

    n_base = emb.count()
    freqs = {
        r["label"]: r["cnt"] / n_base
        for r in emb.groupBy("label").agg(F.count("*").alias("cnt")).collect()
    }
    q_labels = {r["label"] for r in q.select("label").distinct().collect()}
    rare, widen = set(), 1
    for lab in q_labels:
        f = freqs.get(lab, 0.0)
        need = math.ceil(slack / f) if f > 0 else max_widen + 1
        if f < min_label_freq or need > max_widen:
            rare.add(lab)
        else:
            widen = max(widen, need)
    out = []
    graph_q = q.where(~F.col("label").isin(list(rare))) if rare else q
    if len(rare) < len(q_labels):
        wide_k = min(k * widen, n_base)
        # l_floor is the index's own quality beam (the L the unfiltered
        # recall gate holds at): a small widening factor must not shrink
        # the beam below it, or graph recall drops before the filter
        # even applies
        res = search_graph(
            graph_q.select("qid", "embedding"), emb, adj.localCheckpoint(), ep,
            k=wide_k, l_search=max(l_floor, wide_k * 2), metric=metric,
            exclude_self=True,
        )
        labeled = (
            res.join(
                emb.select(F.col("vec_id").alias("nn_id"), F.col("label").alias("nn_label")),
                "nn_id",
            )
            .join(graph_q.select("qid", F.col("label").alias("q_label")), "qid")
            .where(F.col("nn_label") == F.col("q_label"))
        )
        w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nn_id").asc())
        out.append(
            labeled.withColumn("frank", F.row_number().over(w))
            .where(F.col("frank") <= k)
            .select("qid", "nn_id", "dist", F.col("frank").alias("rank"))
        )
    if rare:
        exact = knn_join(
            q.where(F.col("label").isin(list(rare))).select("qid", "embedding", "label"),
            emb.select("vec_id", "embedding", "label"),
            k=k, metric=metric, query_id="qid", base_id="vec_id",
            vec_col="embedding", exclude_self=True, match_col="label",
        )
        out.append(exact.select("qid", "nn_id", "dist", "rank"))
    res = out[0]
    for extra in out[1:]:
        res = res.unionByName(extra)
    return res


def roargraph_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered graph ANN (Big-ANN filtered-track shape): same-label
    top-k via selectivity-aware over-retrieval + post-filter
    (filtered_search_graph) — widening factors come from measured label
    frequencies, with an exact filtered-kNN fallback for rare labels.
    Recall vs the exact filtered kNN is gated in tests/test_graph.py,
    including a skewed-label corpus."""
    emb, adj, ep = _build(spark, sf_dir)
    q = emb.where(F.col("vec_id") < _N_SEARCH_QUERIES).select(
        F.col("vec_id").alias("qid"), "embedding", "label"
    )
    res = filtered_search_graph(
        spark, emb, adj, ep, q, k=PARAMS.k, l_floor=PARAMS.L_pq, metric=PARAMS.metric
    )
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank")


def roargraph_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance, delete side: tombstone 10% of the base from the
    shared built graph, splice each survivor's pool through the holes its
    deleted neighbors leave, re-prune at the cap
    (operators/projection.delete_from_roargraph — the reference is
    build-once/static, src/index_bipartite.cpp has no delete), and return
    per-node degrees of the repaired graph. Rows-only; the
    no-tombstone-anywhere / survivor-coverage / recall-over-survivors
    gates live in tests/test_graph.py."""
    from mysteryann_spark.operators.projection import delete_from_roargraph

    emb, adj, ep = _build(spark, sf_dir)
    dels = emb.where(F.col("vec_id") % 10 == 3).select("vec_id")
    _, new_adj, _ = delete_from_roargraph(
        emb.select("vec_id", "embedding"), adj, ep, dels, PARAMS
    )
    return new_adj.select("node", F.size("nbrs").cast("bigint").alias("degree"))


def roargraph_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: build on the first 90% of the base,
    insert the held-out 10% as a batch (search -> prune -> reverse-link,
    operators/projection.insert_into_roargraph), return per-node degrees
    of the merged graph. Rows-only; recall/degree-cap/determinism gates
    live in tests/test_graph.py."""
    from mysteryann_spark.operators.projection import (
        build_roargraph_from_table,
        insert_into_roargraph,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cut = int(emb.count() * 0.9)
    old = emb.where(F.col("vec_id") < cut)
    new = emb.where(F.col("vec_id") >= cut)
    adj, ep = build_roargraph_from_table(spark, old, PARAMS)
    merged, _ = insert_into_roargraph(
        old.select("vec_id", "embedding"), adj.localCheckpoint(), ep,
        new.select("vec_id", "embedding"), PARAMS,
    )
    return merged.select("node", F.size("nbrs").cast("bigint").alias("degree"))


def roargraph_stream_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming index maintenance under the driver's eye: build on the
    first 90% of the base, then drain the held-out 10% as a THREE-micro-
    batch Structured Streaming feed through foreachBatch incremental
    insertion (streaming/maintain.py stream_maintain_roargraph, over a
    change feed whose rows all say ``insert``; batch ``vec_id % 3``),
    returning per-node degrees of the final graph. The reference has no
    insert path (build-once, src/index_bipartite.cpp) — this is the
    index-freshness loop a live corpus needs. Rows-only; streamed-vs-bulk parity, degree-cap, and
    recall gates live in tests/test_streaming.py."""
    from mysteryann_spark.operators.projection import build_roargraph_from_table
    from mysteryann_spark.streaming.maintain import (
        stage_op_stream,
        stream_maintain_roargraph,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cut = int(emb.count() * 0.9)
    old = emb.where(F.col("vec_id") < cut)
    ops = emb.where(F.col("vec_id") >= cut).select(
        (F.col("vec_id") % 3).alias("batch"), F.lit("insert").alias("op"), "vec_id", "embedding"
    )
    adj, ep = build_roargraph_from_table(spark, old, PARAMS)
    scratch = scratch_dir(f"roargraph_stream_{spark.sparkContext.applicationId}_")
    stream = stage_op_stream(spark, ops, os.path.join(scratch, "feed"))
    _, merged, _, _ = stream_maintain_roargraph(
        spark, old.select("vec_id", "embedding"), adj.localCheckpoint(), ep,
        stream, PARAMS, os.path.join(scratch, "ckpt"),
    )
    return merged.select("node", F.size("nbrs").cast("bigint").alias("degree"))


def roargraph_stream_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming index CHURN under the driver's eye: build on the first
    90% of the base, then drain a THREE-micro-batch insert/delete change
    feed through foreachBatch maintenance (streaming/maintain.py
    stream_maintain_roargraph) — batch 0 inserts half the holdout,
    batch 1 deletes a slice of the original base and inserts the rest of
    the holdout, batch 2 UPDATES a few ids (delete + reinsert with a
    shifted embedding, the CDC update idiom). Returns per-node degrees of
    the final graph. The reference is build-once/static
    (src/index_bipartite.cpp has no insert or delete path). Rows-only;
    streamed-vs-batch-API parity, tombstone coverage, and recall gates
    live in tests/test_streaming.py (test_stream_maintain_churn_parity)."""
    from mysteryann_spark.operators.projection import build_roargraph_from_table
    from mysteryann_spark.streaming.maintain import (
        stage_op_stream,
        stream_maintain_roargraph,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()
    cut = int(n * 0.9)
    mid = cut + (n - cut) // 2
    old = emb.where(F.col("vec_id") < cut)
    adj, ep = build_roargraph_from_table(spark, old, PARAMS)

    shifted = F.transform("embedding", lambda x: x + F.lit(0.25))
    ins0 = emb.where((F.col("vec_id") >= cut) & (F.col("vec_id") < mid)).select(
        F.lit(0).alias("batch"), F.lit("insert").alias("op"), "vec_id", "embedding"
    )
    del1 = old.where(F.col("vec_id") % 17 == 3).select(
        F.lit(1).alias("batch"), F.lit("delete").alias("op"), "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    ins1 = emb.where(F.col("vec_id") >= mid).select(
        F.lit(1).alias("batch"), F.lit("insert").alias("op"), "vec_id", "embedding"
    )
    upd_ids = F.col("vec_id") % 17 == 5
    del2 = old.where(upd_ids).select(
        F.lit(2).alias("batch"), F.lit("delete").alias("op"), "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    ins2 = old.where(upd_ids).select(
        F.lit(2).alias("batch"), F.lit("insert").alias("op"), "vec_id",
        shifted.cast("array<float>").alias("embedding"),
    )
    ops = ins0.unionByName(del1).unionByName(ins1).unionByName(del2).unionByName(ins2)

    scratch = scratch_dir(f"roargraph_maintain_{spark.sparkContext.applicationId}_")
    stream = stage_op_stream(spark, ops, os.path.join(scratch, "feed"))
    _, merged, _, _ = stream_maintain_roargraph(
        spark, old.select("vec_id", "embedding"), adj.localCheckpoint(), ep,
        stream, PARAMS, os.path.join(scratch, "ckpt"),
    )
    return merged.select("node", F.size("nbrs").cast("bigint").alias("degree"))


def roargraph_save_load_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index persistence round-trip under the driver's eye: save the
    built projection graph + metadata header (SaveProjectionGraph,
    src/index_bipartite.cpp:2606-2619), load it back (LoadProjectionGraph,
    :2097-2117), and search THROUGH the loaded copy — results must equal
    searching the in-session graph (rows-only here; byte-level save/load
    equality is test-gated in tests/test_graph.py)."""
    from mysteryann_spark.sources.graph_io import load_index, save_index

    emb, adj, ep = _build(spark, sf_dir)
    path = scratch_dir("mysteryann-roundtrip-")
    dim = len(emb.select("embedding").head()[0])
    save_index(adj, path, entry_point=ep, dim=dim, params=PARAMS)
    adj2, meta = load_index(spark, path)
    q = emb.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(
        q, emb, adj2.localCheckpoint(), int(meta["entry_point"]),
        k=PARAMS.k, l_search=PARAMS.L_pq, metric=str(meta["metric"]),
    )
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank")


def roargraph_binary_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference BINARY index interop: export the built projection graph
    to the reference's own uint32 stream layout (SaveProjectionGraph,
    src/index_bipartite.cpp:2606-2619), import it back
    (LoadProjectionGraph, :2097-2117), and search THROUGH the imported
    copy — a user holding C++-built RoarGraph index files can load them
    here without a rebuild. Rows-only; byte-level roundtrip equality is
    gated in tests/test_graph.py."""
    from mysteryann_spark.sources.graph_io import (
        load_projection_binary,
        save_projection_binary,
    )

    emb, adj, ep = _build(spark, sf_dir)
    npts = emb.count()
    path = os.path.join(scratch_dir("mysteryann-binidx-"), "roar.index")
    save_projection_binary(adj, path, entry_point=ep, npts=npts)
    adj2, ep2 = load_projection_binary(spark, path)
    q = emb.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(
        q, emb, adj2.localCheckpoint(), ep2,
        k=PARAMS.k, l_search=PARAMS.L_pq, metric=PARAMS.metric,
    )
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank")


def roargraph_nsg_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NSG third-party index interop (S9 — LoadNsgGraph,
    src/index_bipartite.cpp:2073-2095): export the built graph to the
    NSG binary layout (width+ep header, count-less records to EOF),
    import it back recovering npts from the stream, and search THROUGH
    the imported copy. Rows-only; byte roundtrip + hand-packed parse +
    truncation rejection are gated in tests/test_graph.py."""
    from mysteryann_spark.sources.graph_io import load_nsg_binary, save_nsg_binary

    emb, adj, ep = _build(spark, sf_dir)
    npts = emb.count()
    path = os.path.join(scratch_dir("mysteryann-nsg-"), "roar.nsg")
    save_nsg_binary(adj, path, entry_point=ep, npts=npts)
    adj2, ep2, _w = load_nsg_binary(spark, path)
    q = emb.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(
        q, emb, adj2.localCheckpoint(), ep2,
        k=PARAMS.k, l_search=PARAMS.L_pq, metric=PARAMS.metric,
    )
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank")


from mysteryann_spark.queries import _pinned_oracles as _PINNED

QUERIES: dict[str, QuerySpec] = {
    "roargraph_sweep": QuerySpec(roargraph_sweep, None),
    "roargraph_sweep_quality": QuerySpec(roargraph_sweep_quality, None),
    "roargraph_degrees": QuerySpec(roargraph_degrees, _PINNED.DEGREES_SF001_SQL),
    "roargraph_search_topk": QuerySpec(roargraph_search_topk, None),
    "roargraph_search_ip": QuerySpec(roargraph_search_ip, None),
    "roargraph_search_cosine": QuerySpec(roargraph_search_cosine, None),
    "roargraph_build_ivf": QuerySpec(roargraph_build_ivf, None),
    "roargraph_search_distributed": QuerySpec(roargraph_search_distributed, None),
    "roargraph_search_distributed_wide": QuerySpec(roargraph_search_distributed_wide, None),
    "bipartite_search_topk": QuerySpec(bipartite_search_topk, None),
    "roargraph_search_filtered": QuerySpec(roargraph_search_filtered, None),
    "roargraph_insert": QuerySpec(roargraph_insert, None),
    "roargraph_delete": QuerySpec(roargraph_delete, None),
    "roargraph_stream_insert": QuerySpec(roargraph_stream_insert, None),
    "roargraph_stream_maintain": QuerySpec(roargraph_stream_maintain, None),
    "roargraph_save_load_search": QuerySpec(roargraph_save_load_search, None),
    "roargraph_binary_interop": QuerySpec(roargraph_binary_interop, None),
    "roargraph_nsg_import": QuerySpec(roargraph_nsg_import, None),
}
