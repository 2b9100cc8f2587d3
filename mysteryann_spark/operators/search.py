"""Batch best-first beam search — SURVEY.md §2.10 Q1 / §2.3 J2.

``SearchRoarGraph`` (src/index_bipartite.cpp:2311-2420) per query: seed the
bounded queue with the medoid, repeatedly expand the closest unexpanded
node's adjacency, tag visited, stop when the top-L queue has no unexpanded
entry; emit top-k (ids, dists) plus (cmps, hops) cost counters.

Spark shape (broadcast path): the index — CSR adjacency + the base matrix
— is staged ONCE to Parquet by a distributed write and loaded lazily by
each Python worker (sources/staging.py; no driver collect round-trip);
queries stream through ``mapInPandas`` and run the lockstep beam loop in
numpy (per-round distance computation is one vectorized kernel call over
every live query's neighbor batch — the Arrow/numpy stand-in for the AVX
loop + prefetch). Per-query visited tracking is an LSM of sorted
(query, row) keys (``_VisitedLSM``) — the lockstep replacement for the
epoch visited-array pool (visited_list_pool.h). ``SearchBipartiteGraph``
(src/index_bipartite.cpp:282-356) runs through the same kernel: it
differs only in its seeds (random base rows) and in walking two CSR
hops (base -> query node -> base) per expansion.

Scale: this path assumes the index fits in executor memory — the same
assumption the single-node reference makes for its whole lifetime. The
query side is unbounded: 10^9 queries shard into partitions with zero
shuffle (output is already per-query). For indexes beyond executor RAM
the Pregel-style frontier-join rendering in
``operators/search_distributed.py`` is the fallback (SURVEY §3.2),
bit-parity-tested against this path in tests/test_graph.py.
"""

from __future__ import annotations

from bisect import insort
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from mysteryann_spark.functions.vector import np_pair_distances
from mysteryann_spark.sources.staging import (
    load_staged,
    load_staged_graph,
    read_staged,
    stage_parquet,
    table_csr,
    table_matrix,
)


def stage_graph_index(
    base_df: DataFrame,
    adj_df: DataFrame,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    storage_dir: str | None = None,
) -> tuple[str, str]:
    """Stage the (base vectors, adjacency) index pair to Parquet once via
    distributed writes; callers running several searches over one index
    (sweeps, repeated queries) pass the result to ``search_graph`` so the
    write and the per-worker load both happen once."""
    return (
        stage_parquet(base_df.select(base_id, vec_col), storage_dir),
        stage_parquet(adj_df, storage_dir),
    )

# lockstep batch width for the shared-distance-call beam search: big
# enough that one einsum round amortizes numpy call overhead, small
# enough that per-round Python state (pools + visited sets) stays cheap
_BATCH_CHUNK = 256

_RESULT_SCHEMA = StructType(
    [
        StructField("qid", LongType(), False),
        StructField("nn_id", LongType(), False),
        StructField("dist", DoubleType(), False),
        StructField("rank", IntegerType(), False),
        StructField("cmps", IntegerType(), False),
        StructField("hops", IntegerType(), False),
    ]
)


def _beam_search_batch_ref(
    qmat: np.ndarray,
    ep_row: int,
    indptr: np.ndarray,
    indices: np.ndarray,
    bmat: np.ndarray,
    l_search: int,
    metric: str,
    exclude_rows: np.ndarray,
    expand_width: int = 1,
) -> tuple[list[list[tuple[float, int]]], np.ndarray, np.ndarray]:
    """Best-first loop for a BATCH of queries in lockstep. Per query the
    state evolution is identical to running the sequential loop alone —
    pool entries are (dist, row) kept sorted, expanded rows tracked
    separately: NeighborPriorityQueue semantics (neighbor.h:138-223) with
    the (dist, id) total order. Lockstep exists purely to amortize the
    distance kernel: each round gathers every live query's one frontier
    expansion and scores all (query, neighbor) pairs with a single
    row-wise einsum call, instead of one numpy call per (query, hop) —
    the per-call overhead was the #1 cost of the graph build's
    connectivity phase.

    ``expand_width`` > 1 expands up to that many unexpanded pool entries
    per round INSTEAD of the strict best-first one: round count (and with
    it the per-round Python bookkeeping that dominates long searches at
    large L) drops ~width-fold, at the cost of scoring some neighbors a
    strict order would have pruned. Width 1 (default) is bit-identical
    to the reference's loop; wider is the standard batched-greedy
    relaxation, recall-gated where used (the 10^5-node rehearsal).

    cmps counts post-seed distance evaluations only — the reference
    zeroes its comparison counter after scoring the entry point
    (SearchRoarGraph, src/index_bipartite.cpp:2311-2420).

    Returns (pools, cmps, hops) with one entry per query row.
    """
    n_q = qmat.shape[0]
    d0 = np_pair_distances(metric, qmat, np.broadcast_to(bmat[ep_row], qmat.shape))
    pools: list[list[tuple[float, int]]] = [[(float(d0[i]), int(ep_row))] for i in range(n_q)]
    expanded: list[set[int]] = [set() for _ in range(n_q)]
    visited: list[set[int]] = [{int(ep_row)} for _ in range(n_q)]
    cmps = np.zeros(n_q, dtype=np.int64)
    hops = np.zeros(n_q, dtype=np.int64)
    live = list(range(n_q))
    while live:
        nxt: list[int] = []
        owners: list[tuple[int, int]] = []  # (query idx, n fresh)
        fresh_all: list[int] = []
        for i in live:
            pool, exp = pools[i], expanded[i]
            curs = []
            for d, r in pool:
                if r not in exp:
                    curs.append(r)
                    if len(curs) >= expand_width:
                        break
            if not curs:
                continue  # pool fully expanded -> query done
            nxt.append(i)
            vis, ex = visited[i], exclude_rows[i]
            fresh: list[int] = []
            for r in curs:
                exp.add(r)
                hops[i] += 1
                for n in indices[indptr[r] : indptr[r + 1]]:
                    if n not in vis and n != ex:
                        vis.add(n)
                        fresh.append(n)
            if fresh:
                owners.append((i, len(fresh)))
                fresh_all.extend(fresh)
        live = nxt
        if not fresh_all:
            continue
        rows = np.asarray(fresh_all, dtype=np.int64)
        qidx = np.repeat(
            np.fromiter((i for i, _ in owners), dtype=np.int64, count=len(owners)),
            np.fromiter((nf for _, nf in owners), dtype=np.int64, count=len(owners)),
        )
        dists = np_pair_distances(metric, qmat[qidx], bmat[rows])
        off = 0
        for i, nf in owners:
            ds, rs = dists[off : off + nf], rows[off : off + nf]
            off += nf
            cmps[i] += nf
            pool = pools[i]
            # boundary test uses the FULL (dist, id) tuple order — a
            # candidate tied on distance with a smaller row id at a full
            # pool's boundary replaces the boundary entry, matching
            # NeighborPriorityQueue's total order (neighbor.h:138-223)
            # and the vectorized kernel's merge
            worst = pool[-1] if len(pool) >= l_search else (np.inf, -1)
            for d, r in zip(ds, rs):
                cand = (float(d), int(r))
                if cand < worst or len(pool) < l_search:
                    insort(pool, cand)
                    if len(pool) > l_search:
                        pool.pop()
                        worst = pool[-1]
    return pools, cmps, hops


class _VisitedLSM:
    """Batch visited-set over (query, row) composite keys: a few sorted
    int64 arrays (LSM levels), membership = one vectorized searchsorted
    per level, insertion = append a sorted level and merge when the level
    count passes the fanout. This is the lockstep replacement for the
    reference's per-query visited lists (visited_list_pool.h): per-row
    epoch tags can't work here because concurrent queries in one chunk
    would overwrite each other's marks in a shared array, and per-query
    2D bitmaps are O(n_rows x chunk) memory at 10^7 rows."""

    _FANOUT = 8

    def __init__(self, init_keys: np.ndarray):
        self.levels = [np.sort(init_keys)]

    def contains(self, keys: np.ndarray) -> np.ndarray:
        out = np.zeros(len(keys), dtype=bool)
        for lv in self.levels:
            if not len(lv):  # seedless init (e.g. every seed list empty)
                continue
            idx = np.searchsorted(lv, keys)
            idxc = np.minimum(idx, len(lv) - 1)
            out |= (idx < len(lv)) & (lv[idxc] == keys)
        return out

    def add_sorted(self, keys: np.ndarray) -> None:
        if not len(keys):
            return
        self.levels.append(keys)
        # geometric merge policy (the logarithmic method): merge runs of
        # similar size so total merge work is O(N log N) over the whole
        # search, not O(N^2 / fanout) — the naive merge-all-every-K
        # profile showed THIS as the top cost at large L (95 s of a
        # 210 s run re-sorting the full visited set every K rounds)
        while (
            len(self.levels) > 1
            and len(self.levels[-2]) <= 2 * len(self.levels[-1])
        ):
            b = self.levels.pop()
            a = self.levels.pop()
            self.levels.append(np.sort(np.concatenate([a, b])))


def _merge_pools(
    pool_d: np.ndarray,
    pool_r: np.ndarray,
    pool_e: np.ndarray,
    live_n: int,
    orow: np.ndarray,
    dists: np.ndarray,
    nbr: np.ndarray,
    L: int,
) -> None:
    """Insert candidates into (dist, row)-sorted bounded pools WITHOUT
    sorting the pools: candidate insertion positions come from a
    vectorized binary search over all candidates at once (exact (d, r)
    comparisons — no packed-key approximations), old entries shift right
    by a per-column cumulative candidate count, and both sides scatter
    into a padded buffer whose spill past column L is the eviction.
    O(K log L) search + O(n_aff x L) memcpy-grade scatters per call,
    versus the O(n_aff x (L+C) log(L+C)) row sorts this replaced —
    the difference is the whole win at large L (SCALE.md r7)."""
    K = len(orow)
    if K == 0:  # e.g. seed-merge with every seed list empty
        return
    o = np.lexsort((nbr, dists, orow))
    orow, dists, nbr = orow[o], dists[o], nbr[o]
    lo = np.zeros(K, dtype=np.int64)
    hi = np.full(K, L, dtype=np.int64)
    while True:
        active = lo < hi
        if not active.any():
            break
        mid = (lo + hi) >> 1
        vd, vr = pool_d[orow, mid], pool_r[orow, mid]
        less = (vd < dists) | ((vd == dists) & (vr < nbr))
        lo = np.where(active & less, mid + 1, lo)
        hi = np.where(active & ~less, mid, hi)
    pos = lo
    seg = np.bincount(orow, minlength=live_n)
    aff = np.nonzero(seg)[0]
    seg_aff = seg[aff]
    ends_q = np.cumsum(seg_aff)
    k_within = np.arange(K, dtype=np.int64) - np.repeat(ends_q - seg_aff, seg_aff)
    la = len(aff)
    aff_row_of = np.empty(live_n, dtype=np.int64)
    aff_row_of[aff] = np.arange(la)
    r_idx = aff_row_of[orow]
    cmax = int(seg_aff.max())
    cnt = np.bincount(
        r_idx * np.int64(L + 1) + pos, minlength=la * (L + 1)
    ).reshape(la, L + 1)
    shift = np.cumsum(cnt[:, :L], axis=1)
    dest_old = np.arange(L, dtype=np.int64)[None, :] + shift
    W = L + cmax
    new_d = np.empty((la, W))
    new_r = np.empty((la, W), dtype=np.int64)
    new_e = np.empty((la, W), dtype=bool)
    ax = np.arange(la)[:, None]
    new_d[ax, dest_old] = pool_d[aff]
    new_r[ax, dest_old] = pool_r[aff]
    new_e[ax, dest_old] = pool_e[aff]
    dest_c = pos + k_within
    new_d[r_idx, dest_c] = dists
    new_r[r_idx, dest_c] = nbr
    new_e[r_idx, dest_c] = False
    pool_d[aff] = new_d[:, :L]
    pool_r[aff] = new_r[:, :L]
    pool_e[aff] = new_e[:, :L]


def _beam_search_batch(
    qmat: np.ndarray,
    seed_rows: list[list[int]],
    indptr: np.ndarray,
    indices: np.ndarray,
    bmat: np.ndarray,
    l_search: int,
    metric: str,
    exclude_rows: np.ndarray | None = None,
    expand_width: int = 1,
    n_hops: int = 1,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized lockstep rendering of both scalar loops:
    ``_beam_search_batch_ref`` (projection graph: ``seed_rows`` is
    ``[[ep]] * n_q``) and ``_beam_search_bipartite_batch_ref`` (random
    base-row seeds, ``n_hops=2``: one expansion walks base -> query node
    -> base). State evolution is bit-identical to each — same (dist, row)
    pool order, visited-first-occurrence semantics and cmps/hops counters
    (parity-gated in tests/test_graph.py) — with the per-round per-query
    Python bookkeeping (pool scans, per-neighbor set ops, insort) replaced
    by whole-batch numpy:

    * seeds are de-duplicated per query by first occurrence and merged
      into empty pools; their scoring is excluded from cmps, the
      reference's counter convention;
    * pools live in (n_live, L) arrays kept (dist, row)-sorted and
      COMPACTED to live queries, so no per-round full-width gathers;
    * frontier selection: strict best-first (width 1) is a row argmin
      over the expanded flags; wider is a masked cumsum — padding slots
      carry expanded=True so no validity mask is needed;
    * an expansion applies the ragged CSR gather ``n_hops`` times; the
      visited and exclusion checks see the last hop's rows only;
    * candidates that cannot beat their pool's current worst are dropped
      up front (the scalar insertion test); survivors merge via the
      sort-free batched scatter ``_merge_pools``;
    * visited tracking is an LSM of sorted (query, row) composite keys
      (``_VisitedLSM``); within-round first-occurrence dedup is one
      np.unique over the same keys, keeping mark-as-you-go order.

    Returns ``(out_d, out_r, cmps, hops)``: the final (n_q, L) pools,
    padded with (inf, ``len(indptr) - 1``) past their live entries.

    SCALE.md's r6 finding motivates this: at 1k queries the per-round
    Python loop was the wall (threads 16->32 bought nothing); the
    distance kernel was already batched. Measured single-thread on a
    2x10^5-node degree-32 graph, 256 queries: 1.25-2.8x over the scalar
    loop across (L, width) in {100,400,1600} x {1,4,8}.
    """
    n_q, L = qmat.shape[0], l_search
    sent = len(indptr) - 1  # sentinel row id: sorts after every graph node
    # pools are compacted to live queries; padding slots are (inf, sent)
    # and PRE-MARKED expanded so frontier scans need no validity mask
    pool_d = np.full((n_q, L), np.inf)
    pool_r = np.full((n_q, L), sent, dtype=np.int64)
    pool_e = np.ones((n_q, L), dtype=bool)
    cmps = np.zeros(n_q, dtype=np.int64)
    hops = np.zeros(n_q, dtype=np.int64)
    out_d = np.empty((n_q, L))
    out_r = np.empty((n_q, L), dtype=np.int64)

    s_counts = np.fromiter(map(len, seed_rows), dtype=np.int64, count=n_q)
    s_qidx = np.repeat(np.arange(n_q, dtype=np.int64), s_counts)
    s_rows = np.fromiter(
        (r for s in seed_rows for r in s), dtype=np.int64, count=int(s_counts.sum())
    )
    skey, first = np.unique(s_qidx * sent + s_rows, return_index=True)
    first.sort()
    s_qidx, s_rows = s_qidx[first], s_rows[first]
    visited = _VisitedLSM(skey)
    s_d = np_pair_distances(metric, qmat[s_qidx], bmat[s_rows])
    _merge_pools(pool_d, pool_r, pool_e, n_q, s_qidx, s_d, s_rows, L)

    live = np.arange(n_q, dtype=np.int64)  # global qid of each pool row
    row_of = np.arange(n_q, dtype=np.int64)  # global qid -> pool row
    while len(live):
        has = ~pool_e.all(axis=1)  # rows with an unexpanded entry left
        if not has.all():
            # emit finished queries and compact the pool arrays
            # (compaction is rare — once per finished query)
            done = np.nonzero(~has)[0]
            out_d[live[done]] = pool_d[done]
            out_r[live[done]] = pool_r[done]
            keep = np.nonzero(has)[0]
            pool_d, pool_r, pool_e = pool_d[keep], pool_r[keep], pool_e[keep]
            live = live[keep]
            if not len(live):
                break
            row_of[live] = np.arange(len(live))
        if expand_width == 1:
            # strict best-first: first unexpanded column per row
            qi_l = np.arange(len(live))
            col = np.argmin(pool_e, axis=1)
        else:
            unexp = ~pool_e
            qi_l, col = np.nonzero(unexp & (np.cumsum(unexp, axis=1) <= expand_width))
        qi = live[qi_l]  # global qids, one per expansion
        pool_e[qi_l, col] = True
        hops += np.bincount(qi, minlength=n_q)

        # gather the expanded rows' neighbor lists (ragged -> flat), once
        # per hop, in the scalar loop's nested CSR iteration order
        nbr, owner = pool_r[qi_l, col], qi
        for _ in range(n_hops):
            starts = indptr[nbr]
            lens = indptr[nbr + 1] - starts
            ends = np.cumsum(lens)
            flat_pos = (
                np.arange(int(lens.sum()), dtype=np.int64)
                - np.repeat(ends - lens, lens)
                + np.repeat(starts, lens)
            )
            nbr = indices[flat_pos]
            owner = np.repeat(owner, lens)
        if not len(nbr):
            continue

        # visited / exclusion filter + within-round first-occurrence
        # dedup, both preserving the scalar loop's mark-as-you-go order
        key = owner * sent + nbr
        fresh = ~visited.contains(key)
        if exclude_rows is not None:
            fresh &= nbr != exclude_rows[owner]
        nbr, owner, key = nbr[fresh], owner[fresh], key[fresh]
        if not len(nbr):
            continue
        ukey, first = np.unique(key, return_index=True)
        first.sort()
        nbr, owner = nbr[first], owner[first]
        visited.add_sorted(ukey)
        dists = np_pair_distances(metric, qmat[owner], bmat[nbr])
        cmps += np.bincount(owner, minlength=n_q)

        # the scalar insertion test, applied up front: a candidate that
        # does not beat its pool's current worst (by the (d, r) order,
        # full pools only) can never enter — dropping it here means late
        # rounds touch only the pools that actually change
        orow = row_of[owner]
        wd, wr = pool_d[orow, L - 1], pool_r[orow, L - 1]
        beat = (dists < wd) | ((dists == wd) & (nbr < wr)) | (wr == sent)
        if not beat.any():
            continue
        _merge_pools(
            pool_d, pool_r, pool_e, len(live),
            orow[beat], dists[beat], nbr[beat], L,
        )
    return out_d, out_r, cmps, hops


def _beam_search_bipartite_batch_ref(
    qmat: np.ndarray,
    seed_rows_list: list[list[int]],
    indptr: np.ndarray,
    indices: np.ndarray,
    bmat: np.ndarray,
    l_search: int,
    metric: str,
) -> tuple[list[list[tuple[float, int]]], np.ndarray, np.ndarray]:
    """2-hop best-first loop over the bipartite graph for a BATCH of
    queries in lockstep (SearchBipartiteGraph,
    src/index_bipartite.cpp:282-356): expanding a base node walks
    base -> query-node -> base, so only base nodes are ever scored.
    Seeds are pre-drawn random base rows; per query the state evolution
    is identical to running its loop alone — lockstep only shares the
    per-round distance kernel call (see _beam_search_batch).

    cmps excludes seed scoring — the reference's counter convention.
    """
    n_q = qmat.shape[0]
    uniq_list = [list(dict.fromkeys(s)) for s in seed_rows_list]
    seed_qidx = np.repeat(
        np.arange(n_q, dtype=np.int64),
        np.fromiter((len(u) for u in uniq_list), dtype=np.int64, count=n_q),
    )
    seed_flat = np.fromiter(
        (r for u in uniq_list for r in u), dtype=np.int64, count=len(seed_qidx)
    )
    seed_d = np_pair_distances(metric, qmat[seed_qidx], bmat[seed_flat])
    pools: list[list[tuple[float, int]]] = []
    off = 0
    for u in uniq_list:
        ds = seed_d[off : off + len(u)]
        off += len(u)
        pools.append(sorted((float(d), int(r)) for d, r in zip(ds, u))[:l_search])
    visited: list[set[int]] = [set(u) for u in uniq_list]
    expanded: list[set[int]] = [set() for _ in range(n_q)]
    cmps = np.zeros(n_q, dtype=np.int64)
    hops = np.zeros(n_q, dtype=np.int64)
    live = list(range(n_q))
    while live:
        nxt: list[int] = []
        owners: list[tuple[int, int]] = []
        fresh_all: list[int] = []
        for i in live:
            pool, exp = pools[i], expanded[i]
            cur = next(((d, r) for d, r in pool if r not in exp), None)
            if cur is None:
                continue
            nxt.append(i)
            exp.add(cur[1])
            hops[i] += 1
            vis = visited[i]
            fresh: list[int] = []
            for nbr in indices[indptr[cur[1]] : indptr[cur[1] + 1]]:
                for nn2 in indices[indptr[nbr] : indptr[nbr + 1]]:
                    if nn2 not in vis:
                        vis.add(nn2)
                        fresh.append(int(nn2))
            if fresh:
                owners.append((i, len(fresh)))
                fresh_all.extend(fresh)
        live = nxt
        if not fresh_all:
            continue
        rows = np.asarray(fresh_all, dtype=np.int64)
        qidx = np.repeat(
            np.fromiter((i for i, _ in owners), dtype=np.int64, count=len(owners)),
            np.fromiter((nf for _, nf in owners), dtype=np.int64, count=len(owners)),
        )
        dists = np_pair_distances(metric, qmat[qidx], bmat[rows])
        off = 0
        for i, nf in owners:
            ds, rs = dists[off : off + nf], rows[off : off + nf]
            off += nf
            cmps[i] += nf
            pool = pools[i]
            # full (dist, id) tuple order at the pool boundary — see
            # _beam_search_batch_ref
            worst = pool[-1] if len(pool) >= l_search else (np.inf, -1)
            for d, r in zip(ds, rs):
                cand = (float(d), int(r))
                if cand < worst or len(pool) < l_search:
                    insort(pool, cand)
                    if len(pool) > l_search:
                        pool.pop()
                        worst = pool[-1]
    return pools, cmps, hops


def _search(
    queries_df: DataFrame,
    load: Callable[[], tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]],
    seeds: Callable[[np.ndarray, np.ndarray], list[list[int]]],
    k: int,
    l_search: int,
    metric: str,
    query_id: str,
    vec_col: str,
    exclude_self: bool = False,
    expand_width: int = 1,
    n_hops: int = 1,
) -> DataFrame:
    """The ``mapInPandas`` search both graph shapes share. Worker-side,
    ``load()`` returns the index ``(ids, bmat, indptr, indices)`` (sorted
    base ids, row i of ``bmat`` holding ``ids[i]``; CSR over graph rows)
    and ``seeds(ids, qids)`` each query's seed rows; queries run through
    ``_beam_search_batch`` in lockstep chunks."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, bmat, indptr, indices = load()
        sent = len(indptr) - 1  # the kernel's sentinel row id
        for pdf in batches:
            if pdf.empty:
                continue
            cols: dict[str, list] = {
                c: [] for c in ("qid", "nn_id", "dist", "rank", "cmps", "hops")
            }
            # lockstep chunks bound per-round state while keeping the
            # shared distance call large enough to amortize
            for s in range(0, len(pdf), _BATCH_CHUNK):
                sub = pdf.iloc[s : s + _BATCH_CHUNK]
                qids = sub[query_id].to_numpy()
                qmat = np.stack([np.asarray(v, dtype=np.float64) for v in sub[vec_col]])
                excl = None
                if exclude_self:  # each query's own base row, or -1
                    pos = np.searchsorted(ids, qids)
                    excl = np.where(ids[np.minimum(pos, len(ids) - 1)] == qids, pos, -1)
                od, orr, cmps, hops = _beam_search_batch(
                    qmat, seeds(ids, qids), indptr, indices, bmat, l_search,
                    metric, excl, expand_width=expand_width, n_hops=n_hops,
                )
                # whole-batch output assembly — no per-row Python on the
                # hot path (guide §4.2). The entry point always seeds the
                # pool, so when the query IS the medoid its row still
                # drops here via the excl mask.
                valid = orr != sent
                if excl is not None:
                    valid &= orr != excl[:, None]
                rnk = np.cumsum(valid, axis=1)
                keep = valid & (rnk <= k)
                qi, ci = np.nonzero(keep)
                cols["qid"].append(qids[qi])
                cols["nn_id"].append(ids[orr[qi, ci]])
                cols["dist"].append(od[qi, ci])
                cols["rank"].append(rnk[qi, ci].astype(np.int32))
                cols["cmps"].append(cmps[qi].astype(np.int32))
                cols["hops"].append(hops[qi].astype(np.int32))
            yield pd.DataFrame(
                {c: np.concatenate(v) if v else np.empty(0) for c, v in cols.items()}
            )

    return queries_df.select(query_id, vec_col).mapInPandas(run, _RESULT_SCHEMA)


def search_bipartite(
    queries_df: DataFrame,
    base_df: DataFrame,
    adj_df: DataFrame,
    base_count: int,
    k: int,
    l_search: int,
    metric: str = "l2",
    n_seeds: int = 10,
    seed: int = 42,
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k search over a bipartite adjacency (build_bipartite output,
    global ID space: base [0, base_count), query nodes above). The
    reference draws its 10 seeds from random_device — nondeterministic by
    design; here they're drawn from a (seed, qid)-keyed generator so runs
    are reproducible (SURVEY.md §5 determinism stance). The index stages
    to Parquet and loads executor-side (sources/staging.py)."""
    base_path, adj_path = stage_graph_index(
        base_df, adj_df, base_id=base_id, vec_col=vec_col
    )

    def _build():
        ids, bmat = table_matrix(read_staged(base_path), base_id, vec_col)
        if len(ids) != base_count or ids[0] != 0 or ids[-1] != base_count - 1:
            raise ValueError("bipartite search requires dense base ids [0, base_count)")
        adj_tbl = read_staged(adj_path)
        node_ids = adj_tbl["node"].combine_chunks().to_numpy(zero_copy_only=False)
        total = max(base_count, int(node_ids.max()) + 1 if len(node_ids) else 0)
        # the bipartite graph's id space is dense [0, total): align the CSR
        # to the identity id vector (vectorized — no per-node Python loop)
        indptr, indices = table_csr(adj_tbl, np.arange(total, dtype=np.int64))
        return ids, bmat, indptr, indices

    def seeds(ids: np.ndarray, qids: np.ndarray) -> list[list[int]]:
        return [
            np.random.default_rng([seed, int(q)]).integers(0, base_count, size=n_seeds).tolist()
            for q in qids
        ]

    return _search(
        queries_df, lambda: load_staged(base_path + "|" + adj_path, _build), seeds,
        k, l_search, metric, query_id, vec_col, n_hops=2,
    )


def search_graph(
    queries_df: DataFrame,
    base_df: DataFrame,
    adj_df: DataFrame,
    entry_point: int,
    k: int,
    l_search: int,
    metric: str = "l2",
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    staged: tuple[str | list[str], str | list[str]] | None = None,
    expand_width: int = 1,
) -> DataFrame:
    """Top-k ANN for every query row; returns
    ``(qid, nn_id, dist, rank, cmps, hops)``.

    ``staged``: optional ``(base_path(s), adj_path(s))`` from
    ``stage_graph_index`` — repeated searches over one index (sweeps)
    stage once and reuse. EITHER side may be a LIST of staged paths
    (StagedBase incremental form: concatenated, later paths override
    duplicate ids/nodes; a base superset of the live graph is allowed —
    extra rows are never reachable). The adjacency delta form is the
    maintenance loop's path to per-batch staging cost ∝ |batch|: the
    full graph stages once, each batch appends only its changed rows
    (``read_staged_multi`` merges worker-side). ``expand_width``: beam
    entries expanded per lockstep round (1 = reference-strict
    best-first; see _beam_search_batch). ``entry_point`` must be a
    staged base id (``ValueError`` at the first query otherwise).
    """
    if expand_width < 1:
        raise ValueError(f"search_graph: expand_width must be >= 1, got {expand_width}")
    if staged is None:
        staged = stage_graph_index(base_df, adj_df, base_id=base_id, vec_col=vec_col)
    base_path, adj_path = staged
    base_paths = [base_path] if isinstance(base_path, str) else list(base_path)
    adj_paths = [adj_path] if isinstance(adj_path, str) else list(adj_path)

    def seeds(ids: np.ndarray, qids: np.ndarray) -> list[list[int]]:
        ep = int(np.searchsorted(ids, entry_point))
        if ep == len(ids) or ids[ep] != entry_point:
            raise ValueError(f"search_graph: entry_point {entry_point} is not a staged base id")
        return [[ep]] * len(qids)

    # load_staged_graph PATCHES a previously-built chain prefix with the
    # suffix deltas: a maintenance refresh follows the batch, not the graph
    return _search(
        queries_df,
        lambda: load_staged_graph(base_paths, adj_paths, base_id, vec_col),
        seeds, k, l_search, metric, query_id, vec_col,
        exclude_self=exclude_self, expand_width=expand_width,
    )
