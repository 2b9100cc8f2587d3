"""IVF-routed approximate kNN join — the sub-quadratic phase 0 for the
graph build.

The exact training-kNN (operators/knn.py J1) is the build's only
super-linear stage: every query GEMMs against every base row, and the
600k scale rehearsal measured the resulting wall growing between linear
and quadratic. The reference never pays this cost in-line — at its 10M
flagship scale it downloads PRECOMPUTED ground truth and loads it as
build input (``LoadLearnBaseKNN``, src/index_bipartite.cpp:2622-2639;
fetched by prepare_data.sh:29). A self-contained engine needs the
equivalent shortcut: an approximate kNN whose per-query cost is a
FRACTION of the base, feeding the same ``(qid, nn[], dists[])`` table.

Shape (designed for the 100 TB regime):

- coarse centroids: ``similarity.train_coarse``, the seeded k-means on
  a bounded hash-sample that every IVF operator trains with (the FAISS
  IVF training protocol) — the model is kilobytes, broadcast once.
- base side: one shuffle on centroid id (the same partitioning the
  persisted IVF index uses — at scale this shuffle IS the index build and
  is amortized by persisting it), then streamed through ``mapInPandas``.
- query side: staged once to Parquet (sources/staging.py — no driver
  round-trip) and loaded per worker; each worker computes every query's
  ``n_probe`` nearest centroids locally from the broadcast model (one
  (n_q x n_centroids) GEMM, cached with the staged matrix).
- kernel: per Arrow batch of base rows, group by centroid id and GEMM
  each centroid's rows against ONLY the queries probing that centroid —
  total work = sum over lists (probers x list length), i.e.
  ~(n_probe / n_centroids) of the exact join's flops. The list runs are
  the ones knn_join's match_col filter walks (``knn._inverted_lists`` /
  ``knn._list_runs``); here a query sits on n_probe lists, not one.
- global merge: the same per-list local top-k kernel and (qid)-window
  merge (``knn._block_topk`` / ``knn.rank_topk``) as the exact join.

Routing: base rows are assigned to their L2-nearest centroid in routing
space (raw vectors; L2-normalized first for metric=cosine — spherical
k-means), and l2 and cosine queries probe their L2-nearest centroids in
the same space — one rule, one scorer (``similarity.centroid_scorer``),
so a query always probes the list its own vector lands in. ip queries
probe by dot product instead, chasing high-dot centroids (the FAISS
MIPS-IVF convention). Approximation is recall-gated in
tests/test_knn_approx.py and at build level by the phase-0 swap gate in
tests/test_graph.py.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from mysteryann_spark.functions.vector import np_distances, np_normalize
from mysteryann_spark.operators.knn import (
    _CAND_SCHEMA,
    _RANKED_SCHEMA,
    _block_topk,
    _inverted_lists,
    _list_runs,
    _read_files,
    rank_topk,
)
from mysteryann_spark.operators.similarity import (
    centroid_scorer,
    count_and_dim,
    train_coarse,
)
from mysteryann_spark.sources.staging import (
    list_staged_files,
    load_staged,
    stage_parquet,
    table_matrix,
)


def _route(metric: str, mat: np.ndarray) -> np.ndarray:
    return np_normalize(mat) if metric == "cosine" else mat


def ivf_knn_join(
    queries_df: DataFrame,
    base_df: DataFrame,
    k: int,
    metric: str = "l2",
    n_centroids: int | None = None,
    n_probe: int = 8,
    max_iter: int = 5,
    seed: int = 42,
    train_sample: int | None = None,
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    storage_dir: str | None = None,
    hierarchical: bool | None = None,
    branch: int | None = None,
) -> DataFrame:
    """Approximate top-k join, same contract as knn_join —
    ``(qid, nn_id, dist, rank)``, rank 1..k ordered by (dist, nn_id) —
    but each query scores only the inverted lists of its ``n_probe``
    nearest centroids: ~(n_probe / n_centroids) of the exact flops.

    ``n_centroids`` defaults to ~sqrt(n_base) (balanced list length vs
    probe cost, the standard IVF sizing); queries whose true neighbors
    straddle a list boundary miss them — recall is tuned by ``n_probe``
    and gated in tests, exactly how the reference gates its own
    approximate search quality.

    Above ``_FLAT_KMEANS_MAX`` centroids (``hierarchical`` overrides)
    training and base assignment go through the two-level route — the
    same O(branch + R*k/branch) structure the IVF-PQ builder uses, so a
    10^8-order build never pays the flat O(k)-per-row assignment wall.
    Query PROBING routes the same way for l2 and cosine: both probe by
    L2 in routing space through the assignment scorer. ip probing keeps
    the exact dot-product GEMM — its centroid ranking depends on dot
    products the L2 route does not order by.
    """
    spark = base_df.sparkSession
    n_base, dim = count_and_dim(base_df, vec_col)
    if n_base == 0:
        return spark.createDataFrame([], _RANKED_SCHEMA)
    if n_centroids is None:
        n_centroids = max(4, min(4096, int(math.isqrt(n_base))))
    n_probe = min(n_probe, n_centroids)
    if train_sample is None:
        # ~256 points per centroid: past that k-means stops moving
        train_sample = max(4096, 256 * n_centroids)

    # routing space: raw vectors for l2/ip, L2-normalized for cosine
    # (spherical k-means)
    cmat, route = train_coarse(
        base_df,
        n_centroids,
        max_iter,
        seed,
        train_sample,
        base_id,
        vec_col,
        normalize=(metric == "cosine"),
        hierarchical=hierarchical,
        branch=branch,
        n_base=n_base,
        dim=dim,
    )
    bc_cent = spark.sparkContext.broadcast(cmat)
    bc_route = spark.sparkContext.broadcast(route) if route is not None else None
    npr = min(n_probe, len(cmat))
    score = centroid_scorer(bc_cent, bc_route)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(IntegerType()))
    def probe_cids(vecs: pd.Series) -> pd.Series:
        """Per-query n_probe nearest centroids: L2 in routing space for
        l2/cosine (the assignment rule), dot product for ip. Computed as
        a DISTRIBUTED stage and persisted with the staged query set, not
        in the executor-side artifact build: there it runs in ONE worker
        per host, a serial wall that grows with the training set (~4e12
        flops at the 10^7 full-training scale, tens of minutes while
        every other core idles). Row-independent math (the GEMM identity
        and per-row selection), so batching does not change any query's
        probe set."""
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = _route(metric, np.stack([np.asarray(v, dtype=np.float64) for v in vecs]))
        if metric != "ip":
            return pd.Series(list(score(m, npr)))
        d = np_distances("ip", m, bc_cent.value)
        p = np.argpartition(d, npr - 1, axis=1)[:, :npr].astype(np.int32)
        return pd.Series(list(p))

    q_path = stage_parquet(
        queries_df.select(
            F.col(query_id),
            F.col(vec_col),
            probe_cids(F.col(vec_col)).alias("probes"),
        ),
        storage_dir,
    )
    files = list_staged_files(q_path)
    if not files:
        return spark.createDataFrame([], _RANKED_SCHEMA)

    def _query_side():
        """(qids, qmat, uniq_cids, bounds, rows): the staged queries and
        their inverted probe lists (``_inverted_lists`` over every
        (query, probe) entry, mapped back to query rows) — a pure
        tuple-of-ndarrays artifact, built once per host and mapped by
        every worker (sources/staging.py), which matters here: qmat
        alone is ~2.6 GB at the 10^7 full-training scale. With the
        probe GEMM done distributed at staging time, this build is read
        + two sorts — cheap enough that the one worker per host that
        pays it no longer serializes the stage."""
        from mysteryann_spark.sources.staging import table_ragged

        tbl = _read_files(files, [query_id, vec_col, "probes"])
        if tbl.num_rows == 0:
            return None
        qids, qmat = table_matrix(tbl, query_id, vec_col)
        # same stable id-argsort as table_matrix, so row i of the ragged
        # view is row i of qmat
        _, indptr, flat_cids = table_ragged(tbl, query_id, "probes")
        uniq, bounds, pos = _inverted_lists(flat_cids.astype(np.int64))
        flat_rows = np.repeat(np.arange(len(qids), dtype=np.int64), np.diff(indptr))
        return qids, qmat, uniq, bounds, flat_rows[pos]

    # base side: assign each row to its L2-nearest centroid in routing
    # space, then ONE shuffle on cid so each Arrow batch holds long
    # contiguous runs of the same inverted list (big GEMMs, not
    # fragments). This is the cid-partitioning the persisted IVF index
    # (sources/ann_index_io.py) stores on disk.
    @pandas_udf(IntegerType())
    def assign_cid(vecs: pd.Series) -> pd.Series:
        m = _route(metric, np.stack([np.asarray(v, dtype=np.float64) for v in vecs]))
        return pd.Series(score(m, 1)[:, 0])

    assigned = (
        base_df.select(
            F.col(base_id).cast(LongType()).alias("bid"),
            F.col(vec_col).alias("bvec"),
            assign_cid(F.col(vec_col)).alias("cid"),
        )
        .repartition("cid")
        .sortWithinPartitions("cid")
    )

    def probe_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        loaded = load_staged("ivfknnq|" + "|".join(files), _query_side)
        if loaded is None:
            return
        qids, qmat, *inv = loaded
        for pdf in batches:
            if pdf.empty:
                continue
            bids = pdf["bid"].to_numpy(dtype=np.int64)
            bmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["bvec"]])
            # cid-sorted within partitions: every run is a slice
            for br, qr in _list_runs(inv, pdf["cid"].to_numpy(dtype=np.int64)):
                yield from _block_topk(
                    qids, qmat, bids[br], bmat[br], k, metric, exclude_self, qrows=qr
                )

    candidates = assigned.mapInPandas(probe_topk, _CAND_SCHEMA)
    if exclude_self:
        candidates = candidates.where(F.col("dist") != float("inf"))
    return rank_topk(candidates, k)


def ivf_knn_join_arrays(
    queries_df: DataFrame, base_df: DataFrame, k: int, metric: str = "l2", **kwargs
) -> DataFrame:
    """IVF-routed approximate kNN in the reference's per-query list shape
    (LoadLearnBaseKNN) — the drop-in sub-quadratic feed for the graph
    build's phase 1."""
    from mysteryann_spark.operators.knn import flat_to_arrays

    return flat_to_arrays(ivf_knn_join(queries_df, base_df, k, metric, **kwargs))
