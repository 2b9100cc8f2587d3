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
  is amortized by persisting it), then streamed through the list scan.
- query side: a distributed pandas UDF computes every query's
  ``n_probe`` nearest centroids from the broadcast model as an integer
  array column ``cid``.
- scan and merge: ``knn.knn_join`` with ``match_col="cid"`` — the exact
  join's staging, list scan (``knn._list_scan``), self filter and
  (qid)-window merge, unchanged. A query sits on every list its probe
  array names, so each centroid's base rows GEMM against ONLY the
  queries probing that centroid: total work = sum over lists (probers x
  list length), i.e. ~(n_probe / n_centroids) of the exact join's flops.

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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from mysteryann_spark.functions.vector import np_distances, np_normalize
from mysteryann_spark.operators.knn import _RANKED_SCHEMA, flat_to_arrays, knn_join
from mysteryann_spark.operators.similarity import (
    centroid_scorer,
    count_and_dim,
    train_coarse,
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
        base_df.select(base_id, vec_col, assign_cid(F.col(vec_col)).alias("cid"))
        .repartition("cid")
        .sortWithinPartitions("cid")
    )
    probed = queries_df.select(query_id, vec_col, probe_cids(F.col(vec_col)).alias("cid"))
    return knn_join(
        probed, assigned, k, metric, query_id=query_id, base_id=base_id, vec_col=vec_col,
        exclude_self=exclude_self, storage_dir=storage_dir, match_col="cid",
    )


def ivf_knn_join_arrays(
    queries_df: DataFrame, base_df: DataFrame, k: int, metric: str = "l2", **kwargs
) -> DataFrame:
    """IVF-routed approximate kNN in the reference's per-query list shape
    (LoadLearnBaseKNN) — the drop-in sub-quadratic feed for the graph
    build's phase 1."""
    return flat_to_arrays(ivf_knn_join(queries_df, base_df, k, metric, **kwargs))
