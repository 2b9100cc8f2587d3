"""Occlusion (RNG-style, alpha=1) prune — SURVEY.md §2.9 G6/G7/G9.

Numpy re-expression of the reference's candidate-pruning rule
(PruneBiSearchBaseGetBase, src/index_bipartite.cpp:1612-1694): given a
candidate pool for a target node, sorted by (distance-to-target, id), keep
candidate c only if no already-kept r satisfies d(c, r) < d(c, target);
then backfill nearest non-kept candidates up to M. All pools are small
(<= a few hundred), so the kernel is a local O(M*|pool|) numpy loop over
the JVM-assembled (``collect_list``) pools of each ``mapInPandas`` batch.

The reference's three passes (sorted pool, original-order slack pass with
alpha=1.0, nearest backfill) collapse to two here because our callers
always present pools already (dist, id)-sorted and deduplicated, which
makes pass 2 a no-op re-scan of pass 1's input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from mysteryann_spark.functions.vector import np_distances


def occlusion_prune_np(
    cand_ids: np.ndarray,
    cand_dists: np.ndarray,
    cand_vecs: np.ndarray,
    m: int,
    metric: str = "l2",
    pool_cap: int | None = None,
) -> list[int]:
    """Prune one pool. Inputs must exclude the target itself.

    cand_ids/cand_dists/cand_vecs are parallel arrays; dists are to the
    target node. Returns <= m kept ids, deterministic.

    ``pool_cap`` (default ``max(8*m, 256)``) bounds the pool considered:
    after the (dist, id) sort + dedup, only the nearest ``pool_cap``
    candidates enter the O(pool^2) occlusion pass. The batch build's
    merged per-target pools are otherwise UNBOUNDED — a hub node that is
    the 1-NN target of thousands of training queries accumulates
    thousands of candidates, and the full pairwise-distance matrix on
    such a pool is the quadratic memory/CPU blowup that stalls (or
    OOM-kills) workers on clustered data. Truncating to the nearest
    pool_cap is the standard Vamana/DiskANN regime (prune pools are
    bounded by the build beam L); occlusion keeps <= m anyway, and the
    reference's own pools are bounded by construction
    (src/index_bipartite.cpp:1063-1067 M-truncation per query).
    """
    if len(cand_ids) == 0:
        return []
    if pool_cap is None:
        pool_cap = max(8 * m, 256)
    # (dist, id) total order — neighbor.h:29-31 tiebreak.
    order = np.lexsort((cand_ids, cand_dists))
    ids = cand_ids[order]
    dists = cand_dists[order]
    vecs = cand_vecs[order]
    # dedup keeping first (closest) occurrence
    _, first_idx = np.unique(ids, return_index=True)
    keep_mask = np.zeros(len(ids), dtype=bool)
    keep_mask[first_idx] = True
    ids, dists, vecs = ids[keep_mask], dists[keep_mask], vecs[keep_mask]
    # re-sort after dedup (np.unique disturbed nothing: mask preserves order)
    if len(ids) > pool_cap:
        ids, dists, vecs = ids[:pool_cap], dists[:pool_cap], vecs[:pool_cap]

    pair = np_distances(metric, vecs, vecs)  # (n, n) candidate-candidate dists
    kept: list[int] = [0]
    for j in range(1, len(ids)):
        if len(kept) >= m:
            break
        # occluded if any kept r with d(c_j, r) < d(c_j, tgt)
        if not np.any(pair[j, kept] < dists[j]):
            kept.append(j)
    if len(kept) < m:
        kept_set = set(kept)
        for j in range(len(ids)):
            if len(kept) >= m:
                break
            if j not in kept_set:
                kept.append(j)
    return [int(ids[j]) for j in kept]


def _batched_l2_like(metric: str, q3: np.ndarray, b3: np.ndarray) -> np.ndarray:
    """``np_distances`` over a STACK of same-shape operand pairs —
    per-slice bit-identical to calling ``np_distances(metric, q3[i],
    b3[i])`` in a loop (verified: same-dims batched dgemm/einsum matches
    the 2-D calls bitwise; padding or dim changes would NOT — see
    tests/test_prune.py::test_batched_distances_bitwise). Inputs must be
    C-contiguous float64, as the scalar path casts them."""
    if metric == "l2":
        qq = np.einsum("bij,bij->bi", q3, q3)[:, :, None]
        bb = np.einsum("bij,bij->bi", b3, b3)[:, None, :]
        d = qq + bb - 2.0 * np.matmul(q3, b3.transpose(0, 2, 1))
        np.maximum(d, 0.0, out=d)
        return d
    if metric == "ip":
        return -np.matmul(q3, b3.transpose(0, 2, 1))
    if metric == "cosine":
        qn = np.linalg.norm(q3, axis=2, keepdims=True)
        qn[qn == 0.0] = 1.0
        bn = np.linalg.norm(b3, axis=2, keepdims=True)
        bn[bn == 0.0] = 1.0
        return -np.matmul(q3 / qn, (b3 / bn).transpose(0, 2, 1))
    raise ValueError(f"unknown metric {metric!r}")


def occlusion_prune_batch(
    pools_ids: list[np.ndarray],
    tgt_rows: np.ndarray,
    flat_rows: np.ndarray,
    mat: np.ndarray,
    m: int,
    metric: str = "l2",
    pool_cap: int | None = None,
) -> list[np.ndarray]:
    """Whole-batch rendering of ``occlusion_prune_np`` + the per-node
    target-distance prep: one call prunes EVERY node's pool, returning a
    list of kept-id arrays in input order.

    Bit-identical to the scalar loop by construction: every float is
    produced by the same formulas on operands of the same shape, dtype
    and contiguity (pools grouped by size so batched GEMMs keep each
    slice's dims — a padded batch would change dgemm tiling and flip
    last bits), and the sort/dedup/cap/greedy/backfill steps are exact
    integer/ordering operations vectorized across nodes. What the batch
    form removes is the per-node Python overhead — ~0.2 ms/node of
    numpy-call latency and the per-candidate occlusion loop — which was
    93% of the prune kernel's wall (profiled at sf0.1: 0.42 s of a
    0.45 s single-task stage; three such stages per graph build).
    Parity with the scalar kernel is locked by
    tests/test_prune.py::test_batch_matches_scalar_kernel.

    ``pools_ids``: per-node candidate-id arrays (pre-dedup, collect_list
    order); ``tgt_rows``: each node's row in ``mat``; ``flat_rows``: row
    in ``mat`` of each flattened candidate (concatenated pool order).
    """
    if pool_cap is None:
        pool_cap = max(8 * m, 256)
    B = len(pools_ids)
    widths = np.fromiter((len(p) for p in pools_ids), dtype=np.int64, count=B)
    total = int(widths.sum())
    out: list = [None] * B
    if total == 0:
        return [np.empty(0, dtype=np.int64) for _ in range(B)]
    indptr = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(widths)])
    flat_ids = np.concatenate(
        [np.asarray(p, dtype=np.int64) for p in pools_ids if len(p)]
    )
    flat_vecs = np.ascontiguousarray(mat[flat_rows], dtype=np.float64)
    tgt_vecs = np.ascontiguousarray(mat[tgt_rows], dtype=np.float64)
    owner = np.repeat(np.arange(B, dtype=np.int64), widths)

    # --- target distances over the FULL pool (pre-dedup), grouped by
    # pool size so each batched slice GEMMs at the scalar path's dims
    flat_dists = np.empty(total, dtype=np.float64)
    size_order = np.argsort(widths, kind="stable")
    sw = widths[size_order]
    grp_starts = np.flatnonzero(np.r_[True, sw[1:] != sw[:-1]])
    grp_bounds = np.append(grp_starts, B)
    for gi in range(len(grp_starts)):
        k = int(sw[grp_starts[gi]])
        if k == 0:
            continue
        rows_g = size_order[grp_bounds[gi] : grp_bounds[gi + 1]]
        pos = (indptr[rows_g][:, None] + np.arange(k, dtype=np.int64)).ravel()
        v3 = np.ascontiguousarray(flat_vecs[pos]).reshape(len(rows_g), k, -1)
        t3 = np.ascontiguousarray(tgt_vecs[rows_g])[:, None, :]
        dg = _batched_l2_like(metric, t3, v3)[:, 0, :]
        flat_dists[pos] = dg.ravel()

    # --- (dist, id) sort within each node — the scalar lexsort, global
    ord1 = np.lexsort((flat_ids, flat_dists, owner))
    so, si, sd = owner[ord1], flat_ids[ord1], flat_dists[ord1]
    rank1 = np.arange(total, dtype=np.int64) - np.repeat(indptr[:-1], widths)
    # dedup keeping the first (closest) occurrence of each (node, id)
    ord2 = np.lexsort((rank1, si, so))
    so2, si2 = so[ord2], si[ord2]
    first = np.r_[True, (so2[1:] != so2[:-1]) | (si2[1:] != si2[:-1])]
    keep = np.zeros(total, dtype=bool)
    keep[ord2[first]] = True
    # cap at pool_cap nearest per node: 1-based kept-rank within node
    cum0 = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(keep)])
    kept_rank = cum0[1:] - np.repeat(cum0[indptr[:-1]], widths)
    keep &= kept_rank <= pool_cap

    so, si, sd = so[keep], si[keep], sd[keep]
    srows = flat_rows[ord1][keep]
    widths2 = np.bincount(so, minlength=B)
    indptr2 = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(widths2)])

    # --- occlusion greedy + backfill, grouped by surviving pool size
    size_order2 = np.argsort(widths2, kind="stable")
    sw2 = widths2[size_order2]
    g_starts = np.flatnonzero(np.r_[True, sw2[1:] != sw2[:-1]])
    g_bounds = np.append(g_starts, B)
    for gi in range(len(g_starts)):
        k = int(sw2[g_starts[gi]])
        rows_g = size_order2[g_bounds[gi] : g_bounds[gi + 1]]
        if k == 0:
            for b in rows_g:
                out[b] = np.empty(0, dtype=np.int64)
            continue
        Bg = len(rows_g)
        pos = (indptr2[rows_g][:, None] + np.arange(k, dtype=np.int64)).ravel()
        ids_g = si[pos].reshape(Bg, k)
        d_g = sd[pos].reshape(Bg, k)
        v3 = np.ascontiguousarray(mat[srows[pos]], dtype=np.float64).reshape(Bg, k, -1)
        pair = _batched_l2_like(metric, v3, v3)

        kept_m = np.zeros((Bg, k), dtype=bool)
        kept_m[:, 0] = True
        cnt = np.ones(Bg, dtype=np.int64)
        for j in range(1, k):
            active = cnt < m
            if not active.any():
                break
            occ = ((pair[:, j, :] < d_g[:, j, None]) & kept_m).any(axis=1)
            take = active & ~occ
            kept_m[:, j] = take
            cnt += take
        notk = ~kept_m
        bf_rank = np.cumsum(notk, axis=1)
        bf = notk & (bf_rank <= (m - cnt)[:, None])
        # output order: greedily-kept js ascending, then backfill ascending
        ki, kj = np.nonzero(kept_m)
        bi, bj = np.nonzero(bf)
        kept_split = np.split(ids_g[ki, kj], np.cumsum(np.bincount(ki, minlength=Bg)))[:-1]
        bf_counts = np.bincount(bi, minlength=Bg)
        bf_split = np.split(ids_g[bi, bj], np.cumsum(bf_counts))[:-1]
        for r, b in enumerate(rows_g):
            out[b] = (
                np.concatenate([kept_split[r], bf_split[r]])
                if bf_counts[r]
                else kept_split[r]
            )
    return out


# nodes per prune task: sizes the prune stage's partition count (see
# prune_candidates); read on the driver
_PRUNE_NODES_PER_TASK = 256

_ADJ_SCHEMA = StructType(
    [
        StructField("node", LongType(), False),
        StructField("nbrs", ArrayType(LongType()), False),
    ]
)


def prune_candidates(
    cand_df: DataFrame,
    base_df: DataFrame,
    m: int,
    metric: str = "l2",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    staged_base: str | list[str] | None = None,
) -> DataFrame:
    """Distributed prune: ``(node, cand_id)`` pairs -> ``(node, nbrs)``.

    The shuffle carries BARE (node, cand_id) longs; the kernel looks both
    the pool's vectors and the target's vector up in a STAGED base matrix
    (sources/staging.py — loaded once per worker, the same regime as the
    beam search). The earlier form joined a 64-float vector onto every
    edge row before the collect_list, which multiplied the dominant build
    shuffle ~25x: at 10^6 nodes the phase-4/5 merged prune carried
    ~1.9x10^8 vector-fattened rows (~70+ GB) into one sort and filled the
    disk with spills (scale hazard #6). Pools assemble JVM-side
    (collect_list of longs), THEN cross into Python once per Arrow batch;
    pool completeness is guaranteed by the groupBy, and the kernel dedups
    each pool (np.unique keeps the closest occurrence) so duplicate pairs
    only fatten collect_list slightly.

    ``staged_base`` lets one caller (the 5-phase build) stage the base
    once and share it across its three prune calls; a LIST of paths is
    the StagedBase incremental form (concatenated, later paths override
    duplicate ids — maintenance loops append per-batch deltas instead of
    re-staging the whole base). The staged set may be a superset of
    ``base_df``: lookups are by id, so extra rows are inert. Per-worker
    residency is the base matrix (id-sorted float64 + searchsorted
    lookups) — the same executor-memory assumption the staged search
    index already makes, and ~n*dim*8 bytes vs the O(edges*dim) shuffle
    it replaces.
    """
    from mysteryann_spark.sources.staging import (
        load_staged_matrix,
        stage_parquet,
        staged_row_count,
    )

    if staged_base is None:
        staged_base = stage_parquet(base_df.select(base_id, vec_col))
    paths = [staged_base] if isinstance(staged_base, str) else list(staged_base)

    pairs = cand_df.where(F.col("cand_id") != F.col("node"))
    # Kernel-stage parallelism derives from DATA SIZE, not from AQE's
    # byte-based coalesce: the pools shuffle is tiny in BYTES (bare id
    # pairs) but heavy in kernel CPU, so AQE's advisory-size pick
    # serializes the prune (measured at sf0.1: the final build prune ran
    # 1.08 s of kernel on ONE task; phase-1 0.49 s — guide §2.2, §4).
    # An explicit numPartitions repartition on the groupBy key pins the
    # SAME single exchange (HashPartitioning(node, n) satisfies the
    # aggregate, no second shuffle; AQE leaves user-numbered repartitions
    # alone) at ceil(n_staged / nodes-per-task), capped at 4x cluster
    # parallelism so huge builds get ~core-count-matched tasks instead of
    # hundreds of thousands of overhead-bound ones. n_staged comes from
    # the staged artifact's parquet footers — driver-side metadata, no
    # job. Values are partition-independent: pools are (dist,id)-sorted
    # and deduplicated inside the kernel (locked by
    # tests/test_prune.py::test_prune_candidates_partition_invariant).
    try:
        n_staged = staged_row_count(paths)
    except OSError as e:
        # n_staged = 0 falls back to AQE's byte-based coalesce — exactly
        # the single-task pathology the repartition exists to fix, so a
        # silent 0 would make a regression invisible (r12 verdict #4)
        import logging

        logging.getLogger(__name__).warning(
            "staged_row_count failed (%s); prune stage falls back to AQE "
            "partition coalescing",
            e,
        )
        n_staged = 0
    n_parts = min(
        -(-n_staged // _PRUNE_NODES_PER_TASK),
        cand_df.sparkSession.sparkContext.defaultParallelism * 4,
    )
    if n_parts > 1:
        pairs = pairs.repartition(n_parts, "node")

    pools = pairs.groupBy("node").agg(F.collect_list("cand_id").alias("cand_ids"))

    def prune_batch(batches) -> "pd.DataFrame":
        # incremental: a previously-built chain prefix is patched with the
        # suffix deltas (staging.load_staged_matrix) — per-batch refresh
        # cost follows the batch, not the staged set
        all_ids, mat = load_staged_matrix(paths, base_id, vec_col)

        def rows_of(wanted: np.ndarray) -> np.ndarray:
            pos = np.searchsorted(all_ids, wanted)
            if np.any(pos >= len(all_ids)) or np.any(all_ids[pos] != wanted):
                missing = wanted[(pos >= len(all_ids)) | (all_ids[np.minimum(pos, len(all_ids) - 1)] != wanted)]
                raise ValueError(f"prune pool references ids absent from the base: {missing[:5]}")
            return pos

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # whole-batch prune (occlusion_prune_batch): bit-identical to
            # the per-node occlusion_prune_np loop, without its ~0.2 ms/
            # node Python overhead — the profiled 93% of this kernel
            node_rows = rows_of(pdf["node"].to_numpy(dtype=np.int64))
            pools = [np.asarray(c, dtype=np.int64) for c in pdf["cand_ids"]]
            flat = (
                np.concatenate(pools)
                if pools
                else np.empty(0, dtype=np.int64)
            )
            flat_rows = rows_of(flat) if len(flat) else flat
            nbrs = occlusion_prune_batch(
                pools, node_rows, flat_rows, mat, m, metric
            )
            yield pd.DataFrame({"node": pdf["node"], "nbrs": nbrs})

    return pools.mapInPandas(prune_batch, _ADJ_SCHEMA)
