"""Similarity search over embedding columns.

Baseline: exact brute-force top-k (knn_join with metric='cosine' — blocked
GEMM, no base shuffle). Scale path: random-hyperplane LSH bucketing —
signatures are per-row arrays of bucket keys; queries score only the base
rows of their own buckets (plus multi-table repeats to recover recall), so
per-query work drops from O(N) to O(N / 2^bits * tables). The RoarGraph
index (projection.py + search.py) is the high-recall scale path; LSH here
is the cheap no-index-build alternative, mirroring how a pipeline would
backfill.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import ArrayType, IntegerType

from mysteryann_spark.functions.vector import np_normalize
from mysteryann_spark.operators.knn import _stage_queries, _staged_topk, knn_join, rank_topk
from mysteryann_spark.sources.staging import staged_row_count


def cosine_topk(
    queries_df: DataFrame, base_df: DataFrame, k: int, exclude_self: bool = True
) -> DataFrame:
    """Exact cosine top-k (the brute-force baseline every ANN variant is
    recall-measured against)."""
    return knn_join(queries_df, base_df, k, "cosine", exclude_self=exclude_self)


def _sample_kmeans(
    vecs: np.ndarray, k: int, max_iter: int, seed: int
) -> np.ndarray:
    """Seeded Lloyd iterations over an in-memory sample. Empty clusters
    keep their previous centroid (deterministic, no resampling).

    Distances use the ||x||^2 - 2x.c + ||c||^2 GEMM expansion: the naive
    broadcasted (n, k, dim) cube is ~34 GB at the 64k-sample x 1024-
    centroid training size the 10^6 IVF-PQ rehearsal needs — the GEMM
    form peaks at the (n, k) matrix. That matrix is itself chunked over
    sample rows under the shared distance-block budget: at the 770k x
    3162 training size the 10^7 ivf build samples, the unchunked form is
    ~19 GB and numpy churns three temporaries of that size per iteration
    — the allocation traffic, not the flops, dominated the wall (the
    10^7 rehearsal driver sat at 100% for 15+ min oscillating 20-50 GB
    RSS). Chunking is exact: argmin is row-independent."""
    from mysteryann_spark.operators.knn import dmat_chunk_rows

    rng = np.random.default_rng(seed)
    n = len(vecs)
    cent = vecs[rng.choice(n, size=min(k, n), replace=False)].copy()
    chunk = dmat_chunk_rows(len(cent))
    assign = np.empty(n, dtype=np.int64)
    for _ in range(max_iter):
        # argmin_c ||x-c||^2 = argmax_c (x.c - ||c||^2/2): the ||x||^2
        # term is constant per row, so it never touches the assignment —
        # dropping it (and subtracting the centroid half-norms IN PLACE on
        # the GEMM output) cuts the three full-size temporaries the
        # d = x_sq - 2g + c_sq form churned; that allocation traffic, not
        # the GEMM, was 38 of 41 s/iter at 770k x 3162
        half_c_sq = 0.5 * (cent * cent).sum(axis=1)[None, :]
        for s in range(0, n, chunk):
            g = vecs[s : s + chunk] @ cent.T
            g -= half_c_sq
            assign[s : s + chunk] = g.argmax(axis=1)
        # centroid update via sorted segment means — the per-cluster
        # boolean-mask loop was O(k * n) memory traffic (the wall once
        # the distance pass was chunked: ~160 s of the 192 s at 770k x
        # 3162); one stable argsort + reduceat is O(n log n + n * dim)
        order = np.argsort(assign, kind="stable")
        sa = assign[order]
        starts = np.flatnonzero(np.r_[True, sa[1:] != sa[:-1]])
        sums = np.add.reduceat(vecs[order], starts, axis=0)
        counts = np.diff(np.append(starts, len(sa)))
        cent[sa[starts]] = sums / counts[:, None]
    return cent


# Above this many coarse centroids, training and base-vector assignment go
# TWO-LEVEL (hierarchical k-means + routed nearest): the flat paths are
# O(n_rows x n_centroids) and were measured at ~1 ms/row/iter at the
# 163,840-list 10^8 geometry — days at FAISS's 64-points-per-centroid
# training protocol, ~2.4 h for the assignment pass alone. This is the
# large-nlist regime where FAISS itself swaps the exact coarse quantizer
# for an approximate one (HNSW/IVF quantizer). Kept WELL above every
# sf-scale entry's centroid count so the pinned oracles' bit-exact flat
# path never drifts.
_FLAT_KMEANS_MAX = 8192


def _alloc_quota(counts: np.ndarray, k: int) -> np.ndarray:
    """Largest-remainder proportional allocation of ``k`` sub-centroids
    over level-1 cell masses, capped per cell by its sample count (a cell
    cannot train more centroids than it holds points). Deterministic;
    iterates cap-and-redistribute until k is placed (or capacity runs
    out, when sum(counts) < k)."""
    counts = counts.astype(np.int64)
    quota = np.zeros(len(counts), dtype=np.int64)
    remaining = int(min(k, counts.sum()))
    while remaining > 0:
        cap = counts - quota
        active = cap > 0
        if not active.any():
            break
        mass = np.where(active, counts, 0).astype(np.float64)
        share = mass / mass.sum() * remaining
        q = np.minimum(np.floor(share).astype(np.int64), cap)
        residue = remaining - int(q.sum())
        if residue > 0:
            frac = np.where(q < cap, share - np.floor(share), -1.0)
            order = np.argsort(-frac, kind="stable")
            take = order[: min(residue, int((frac >= 0).sum()))]
            q[take] = np.minimum(q[take] + 1, cap[take])
        got = int(q.sum())
        if got == 0:
            # degenerate: proportional floor gave 0 everywhere — place one
            # in the largest-capacity cell and loop
            q[np.argmax(cap)] = 1
            got = 1
        quota += q
        remaining -= got
    return quota


def _hierarchical_kmeans(
    vecs: np.ndarray, k: int, max_iter: int, seed: int, branch: int | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Two-level seeded Lloyd for LARGE k: level-1 k-means over a branch
    factor ~2*sqrt(k), exact level-1 assignment of the sample, then a
    per-cell sub-k-means whose child quota follows the cell's mass
    (balanced lists by construction). Distance work per training point
    drops from O(k) to O(branch + k/branch) — at k=163,840 that is ~400x.

    Returns ``(cmat, l1, indptr)``: ``cmat`` rows are grouped by level-1
    cell, children of cell i at ``cmat[indptr[i]:indptr[i+1]]`` — the
    routing structure ``_routed_nearest`` uses for O(branch + R*k/branch)
    per-row assignment. The unioned ``cmat`` is a plain flat centroid
    matrix: search-time probing, persistence, and ADC are unchanged."""
    n = len(vecs)
    if branch is None:
        branch = int(max(64, min(4096, 2 * np.sqrt(k))))
    branch = min(branch, n, k)
    l1 = _sample_kmeans(vecs, branch, max_iter, seed)
    branch = len(l1)
    from mysteryann_spark.operators.knn import dmat_chunk_rows

    chunk = dmat_chunk_rows(branch)
    assign = np.empty(n, dtype=np.int64)
    half = 0.5 * (l1 * l1).sum(axis=1)[None, :]
    for s in range(0, n, chunk):
        g = vecs[s : s + chunk] @ l1.T
        g -= half
        assign[s : s + chunk] = g.argmax(axis=1)
    counts = np.bincount(assign, minlength=branch)
    quota = _alloc_quota(counts, k)
    order = np.argsort(assign, kind="stable")
    sa = assign[order]
    starts = np.searchsorted(sa, np.arange(branch))
    ends = np.searchsorted(sa, np.arange(branch), side="right")
    cents: list[np.ndarray] = []
    indptr = np.zeros(branch + 1, dtype=np.int64)
    for c in range(branch):
        q = int(quota[c])
        indptr[c + 1] = indptr[c] + q
        if q == 0:
            continue
        sub = vecs[order[starts[c] : ends[c]]]
        if q == 1:
            cents.append(sub.mean(axis=0, keepdims=True))
        else:
            cents.append(_sample_kmeans(sub, q, max_iter, seed + 7919 * (c + 1)))
    cmat = np.vstack(cents) if cents else l1[:0].copy()
    return cmat, l1, indptr


def _routed_nearest(
    m: np.ndarray,
    c32: np.ndarray,
    l1_32: np.ndarray,
    indptr: np.ndarray,
    n: int,
) -> np.ndarray:
    """Top-n GLOBAL centroid ids for unit rows ``m`` via two-level
    routing: top-R level-1 cells per row (small GEMM), exact scoring
    against only those cells' children, grouped BY CELL so every
    centroid block is one proper GEMM (per-row gathers of candidate
    centroids would move ~GBs of memory per batch). Approximate in the
    same sense as FAISS's non-exhaustive coarse quantizers: a row near a
    level-1 boundary may miss its true nearest centroid — assignment
    agreement and end-to-end recall are test-gated. Deterministic:
    final selection lexsorted by (dist, global id)."""
    B = len(m)
    branch = len(l1_32)
    k = len(c32)
    avg_children = max(1.0, k / max(1, branch))
    R = int(max(4, np.ceil(4.0 * n / avg_children) + 1))
    R = min(R, branch)
    m32 = np.ascontiguousarray(m, dtype=np.float32)
    g = m32 @ l1_32.T
    g -= 0.5 * (l1_32 * l1_32).sum(axis=1)[None, :]
    if R < branch:
        top = np.argpartition(-g, R - 1, axis=1)[:, :R]
    else:
        top = np.broadcast_to(np.arange(branch), (B, branch)).copy()
    best_d = np.full((B, n), np.inf, dtype=np.float32)
    best_i = np.full((B, n), -1, dtype=np.int64)
    cc = (c32 * c32).sum(axis=1)
    for r in range(top.shape[1]):
        cells_r = top[:, r]
        ord_ = np.argsort(cells_r, kind="stable")
        sc = cells_r[ord_]
        bounds = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
        for bi, s0 in enumerate(bounds):
            s1 = bounds[bi + 1] if bi + 1 < len(bounds) else len(sc)
            cell = int(sc[s0])
            lo, hi = int(indptr[cell]), int(indptr[cell + 1])
            if hi == lo:
                continue
            rows = ord_[s0:s1]
            d = cc[None, lo:hi] - 2.0 * (m32[rows] @ c32[lo:hi].T)
            t = min(n, hi - lo)
            if t < d.shape[1]:
                part = np.argpartition(d, t - 1, axis=1)[:, :t]
                dd = np.take_along_axis(d, part, axis=1)
            else:
                part = np.broadcast_to(np.arange(d.shape[1]), d.shape)
                dd = d
            cat_d = np.concatenate([best_d[rows], dd.astype(np.float32)], axis=1)
            cat_i = np.concatenate([best_i[rows], part.astype(np.int64) + lo], axis=1)
            sel = np.argpartition(cat_d, n - 1, axis=1)[:, :n]
            best_d[rows] = np.take_along_axis(cat_d, sel, axis=1)
            best_i[rows] = np.take_along_axis(cat_i, sel, axis=1)
    # deterministic final order: (dist, global id); unfilled slots (fewer
    # candidates than n) carry inf/-1 and sort last
    order2 = np.lexsort((best_i, best_d), axis=1)
    best = np.take_along_axis(best_i, order2, axis=1)
    # a row whose top-R cells are ALL zero-quota (empty sparse regions)
    # ends with no candidates at all; without a fallback it gets cid=-1
    # and silently drops out of every probed list — data loss the flat
    # path cannot exhibit. Exact flat top-n over the full matrix for
    # just those rows (rare by construction, chunked under the shared
    # distance-block budget).
    miss = np.flatnonzero(best[:, 0] == -1)
    if len(miss):
        from mysteryann_spark.operators.knn import dmat_chunk_rows

        t = min(n, k)
        chunk = dmat_chunk_rows(k, itemsize=4)
        for s in range(0, len(miss), chunk):
            rows = miss[s : s + chunk]
            d = cc[None, :] - 2.0 * (m32[rows] @ c32.T)
            if t < k:
                part = np.argpartition(d, t - 1, axis=1)[:, :t].astype(np.int64)
                dd = np.take_along_axis(d, part, axis=1)
            else:
                part = np.broadcast_to(np.arange(k, dtype=np.int64), d.shape)
                dd = d
            o = np.lexsort((part, dd), axis=1)
            blk = np.full((len(rows), n), -1, dtype=np.int64)
            blk[:, :t] = np.take_along_axis(part, o, axis=1)
            best[rows] = blk
    return best.astype(np.int32)


def _unit(vecs: pd.Series) -> np.ndarray:
    m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
    # np_normalize guards zero-norm rows (norm treated as 1.0) so an
    # all-zero embedding yields zeros, not NaNs that poison k-means
    return np_normalize(m)


def _unit_udf():
    """Arrow-batched ``_unit``: each raw vector L2-normalized, with the
    same floats ``nearest_centroids_udf`` probes with."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(ArrayType(DoubleType()))
    def unit(vecs: pd.Series) -> pd.Series:
        return pd.Series(list(_unit(vecs)))

    return unit


def _parse_size_bytes(s: str) -> int:
    """Spark size-string ("1g", "512m", "1024k", "123" = bytes) → bytes."""
    s = s.strip().lower()
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suffix + "b"):
            s, mult = s[:-2], m
            break
        if s.endswith(suffix):
            s, mult = s[:-1], m
            break
    return int(float(s) * mult)


def _guard_train_collect(est_rows: int, dim: int, limit_bytes: int) -> None:
    """Fail FAST and legibly when a training-sample collect would exceed
    ``spark.driver.maxResultSize``. Hit for real at the 163,840-list 10^8
    geometry (SCALE.md r11): 64 points/centroid is a 10.5M-row ≈ 3 GB
    Arrow collect, and the stock 1g limit killed the build 7 minutes in
    with a BrokenPipeError three layers away from the cause. The
    estimate is rows x dim x 8 B: the collected column is array<double>
    (8 B/element serialized; offsets/framing ride in the margin) — a 5 B
    float32-payload estimate under-counted, letting a collect sized
    between the two pass the guard and still die with the original
    opaque error."""
    est = est_rows * max(1, dim) * 8
    if limit_bytes and est > limit_bytes:
        raise RuntimeError(
            f"training-sample collect of ~{est_rows} rows x {dim} dims "
            f"(~{est >> 20} MiB serialized) exceeds "
            f"spark.driver.maxResultSize ({limit_bytes >> 20} MiB): raise "
            f"it (e.g. spark.driver.maxResultSize=8g — session-start conf, "
            f"immutable at runtime) or lower train_sample"
        )


def hash_sample_vectors(
    base_df: DataFrame, base_id: str, vec_col: str, rate: int
) -> pd.Series:
    """Bounded deterministic hash-sample, returned ID-SORTED. The
    xxhash64 bucket filter keeps the same ROWS regardless of physical
    layout, but ``toPandas`` row ORDER follows partition planning — and
    the seeded k-means init draws centroids by POSITION, so an unsorted
    sample makes the trained model depend on the session's partition
    count (the tuned local[32] session and the driver's vanilla session
    plan differently). The driver-side sort is over <= train_sample
    rows — scalars, not data-scaled."""
    pdf = (
        base_df.where(F.pmod(F.xxhash64(F.col(base_id)), F.lit(rate)) == 0)
        .select(F.col(base_id).alias("i"), F.col(vec_col).alias("v"))
        .toPandas()
        .sort_values("i", kind="mergesort", ignore_index=True)
    )
    return pdf["v"]


def count_and_dim(df: DataFrame, vec_col: str) -> tuple[int, int]:
    """Row count and vector width from ONE aggregate job — a separate
    ``count()`` + ``head()`` is two driver jobs and a gap per call, and
    a repeat count per trainer was one full extra pass per index build
    at 10^8 rows. ``first()`` without ordering is an arbitrary row,
    which is all a width witness needs; 0 when that row has no vector."""
    stat = df.agg(F.count(F.lit(1)).alias("n"), F.first(vec_col).alias("v")).head()
    n = int(stat["n"])
    dim = len(stat["v"]) if stat["v"] is not None else 0
    return n, dim


def _sample_matrix(
    base_df: DataFrame,
    train_sample: int,
    base_id: str,
    vec_col: str,
    n_base: int,
    dim: int,
) -> np.ndarray:
    """Float64 (rows, dim) stack of the bounded deterministic hash-sample
    every trainer fits on: ids whose xxhash64 lands in the smallest
    1/rate buckets, rate sized so ~``train_sample`` rows survive — no
    sort, no shuffle, stable under retry. The one driver collect is
    bounded by ``train_sample``, not the data size, and is refused up
    front when it would exceed ``spark.driver.maxResultSize``."""
    rate = max(1, int(np.ceil(n_base / float(train_sample))))
    _guard_train_collect(
        -(-n_base // rate),
        dim,
        _parse_size_bytes(
            base_df.sparkSession.conf.get("spark.driver.maxResultSize", "1g") or "0"
        ),
    )
    sample = hash_sample_vectors(base_df, base_id, vec_col, rate)
    return np.stack([np.asarray(v, dtype=np.float64) for v in sample])


def train_coarse(
    base_df: DataFrame,
    n_centroids: int,
    max_iter: int,
    seed: int,
    train_sample: int,
    base_id: str,
    vec_col: str,
    normalize: bool = True,
    hierarchical: bool | None = None,
    branch: int | None = None,
    n_base: int | None = None,
    dim: int | None = None,
) -> tuple[np.ndarray, tuple[np.ndarray, np.ndarray] | None]:
    """The IVF coarse quantizer every IVF-family operator trains: seeded
    k-means over a bounded hash-sample (``_sample_matrix``; the FAISS IVF
    training protocol — centroids are a tiny model, and training on more
    than a few thousand points per centroid buys nothing). ``normalize``
    L2-normalizes the sample first (spherical k-means, for cosine
    routing). Callers that already ran ``count_and_dim`` pass ``n_base``
    and ``dim``.

    Returns ``(cmat, route | None)`` with ``route == (l1 float32,
    indptr)``, the two-level routing structure ``centroid_scorer``
    assigns and probes through. Above ``_FLAT_KMEANS_MAX``
    centroids, training runs the hierarchical k-means (the flat Lloyd
    pass is O(sample x k) per iteration — measured ~1 ms/row at the
    163,840-list 10^8 geometry, i.e. days at the 64-pts/centroid
    protocol) and the route assigns base rows in O(branch + R*k/branch)
    instead of O(k). ``cmat`` itself is flat either way — persistence,
    search-time probing and ADC are unchanged.

    ``hierarchical`` overrides the threshold auto-pick (None): True
    forces two-level at any centroid count (the registry entry exercises
    it at sf scale, where no table reaches the threshold), False forces
    flat. ``branch`` overrides the ~2*sqrt(k) level-1 width."""
    if n_base is None or dim is None:
        n_base, dim = count_and_dim(base_df, vec_col)
    mat = _sample_matrix(base_df, train_sample, base_id, vec_col, n_base, dim)
    if normalize:
        # np_normalize guards zero-norm rows, so an all-zero embedding
        # yields zeros, not NaNs that poison k-means
        mat = np_normalize(mat)
    if hierarchical is None:
        hierarchical = n_centroids > _FLAT_KMEANS_MAX
    if hierarchical:
        cmat, l1, indptr = _hierarchical_kmeans(
            mat, n_centroids, max_iter, seed, branch=branch
        )
        return cmat, (np.ascontiguousarray(l1, dtype=np.float32), indptr)
    return _sample_kmeans(mat, n_centroids, max_iter, seed), None


def _flat_nearest(m: np.ndarray, c: np.ndarray, n: int) -> np.ndarray:
    """Top-``n`` centroid rows per row of ``m``, by |m|^2 - 2m.c + |c|^2
    in float64 and argsort order — the exact flat assignment the
    sf-scale pinned oracles certify. GEMM expansion, not the (batch, k,
    dim) cube: at 1024 centroids the cube is ~5 GB per 10k-row Arrow
    batch per worker."""
    d = (m * m).sum(axis=1)[:, None] - 2.0 * (m @ c.T) + (c * c).sum(axis=1)[None, :]
    return np.argsort(d, axis=1)[:, :n]


def _cosine_dist_udf():
    """Arrow-batched exact cosine distance of two raw-vector columns as
    -cos, the engine's one cosine convention (the reference's, and
    knn_join's). A zero-norm pair scores 0 instead of 0/0 = NaN.
    ``exact_rerank`` is its only caller."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def cosine_dist(qv: pd.Series, nv: pd.Series) -> pd.Series:
        a = np.stack([np.asarray(v, dtype=np.float64) for v in qv])
        bm = np.stack([np.asarray(v, dtype=np.float64) for v in nv])
        num = np.einsum("ij,ij->i", a, bm)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(bm, axis=1)
        den[den == 0] = 1.0
        return pd.Series(-(num / den))

    return cosine_dist


# above this many (rows x n_centroids) distance cells per call the scorer
# switches to the chunked float32 path: the full float64 matrix at 10k
# rows x 10k+ centroids is ~0.8 GB PER WORKER per batch (the
# 10^8-rehearsal residency hazard), while below it the exact-float64
# math is kept bit-identical — the sf-scale pinned oracles certify that
# path and must not drift on a dtype change
_CENT_F32_CELLS = 1 << 25


def centroid_scorer(bc, route_bc=None):
    """The one coarse-centroid scorer: every IVF base assignment and
    every l2/cosine query probe goes through it. ``score(m, n)`` returns
    the ``n`` L2-nearest rows of the broadcast (n_centroids x dim)
    matrix ``bc`` for each row of ``m``, nearest first, as int32 — ``m``
    already in routing space (unit rows for cosine), so assignment and
    probing share one rule. Three regimes:

    - ``route_bc`` (the broadcast route of ``train_coarse``): the
      TWO-LEVEL ``_routed_nearest`` — O(branch + R*k/branch) per row
      instead of O(k), the difference between ~2.4 h and ~minutes for
      the 10^8 assignment pass at 163,840 lists. Approximate at cell
      boundaries (agreement + recall test-gated); only engaged at
      hierarchical centroid counts, never on the pinned flat path.
    - above ``_CENT_F32_CELLS`` distance cells: chunked float32 GEMM
      with argmin/argpartition — bounded memory and no full sort;
      quality is recall-gated, not pinned, at that scale.
    - otherwise ``_flat_nearest``, the exact float64 assignment.

    The float32 recast of the centroids is memoized in the returned
    closure: it is ~42 MB per Arrow batch at 163,840 lists x 64 dims,
    and a 10^8 assignment pass runs thousands of batches per worker."""
    slot: list = []

    def cent32() -> np.ndarray:
        if not slot:
            slot.append(np.ascontiguousarray(bc.value, dtype=np.float32))
        return slot[0]

    def score(m: np.ndarray, n: int) -> np.ndarray:
        if route_bc is not None:
            l1_32, indptr = route_bc.value
            return _routed_nearest(m, cent32(), l1_32, indptr, n)
        c = bc.value
        if len(m) * len(c) <= _CENT_F32_CELLS:
            return _flat_nearest(m, c, n).astype(np.int32)
        from mysteryann_spark.operators.knn import dmat_chunk_rows

        c32 = cent32()
        cc = (c32 * c32).sum(axis=1)[None, :]
        # sized from the SAME per-worker budget every other distance
        # block obeys (the old max(256, 2^24-cell) floor over-allocated
        # 4x its intended ~64 MB bound at the 256k-centroid 10^8
        # geometry: 256 rows x 256k cents x 4 B = 262 MB per chunk)
        chunk = dmat_chunk_rows(len(c), itemsize=4)
        outs = []
        for s in range(0, len(m), chunk):
            mb = np.ascontiguousarray(m[s : s + chunk], dtype=np.float32)
            # ||x||^2 is constant per row — argmin/argpartition drop it
            d = cc - 2.0 * (mb @ c32.T)
            if n == 1:
                sel = d.argmin(axis=1)[:, None]
            else:
                part = np.argpartition(d, n - 1, axis=1)[:, :n]
                o = np.take_along_axis(d, part, axis=1).argsort(axis=1)
                sel = np.take_along_axis(part, o, axis=1)
            outs.append(sel.astype(np.int32))
        return np.concatenate(outs)

    return score


def nearest_centroids_udf(bc, n: int, route_bc=None):
    """Arrow-batched centroid assignment: each RAW vector is normalized
    inline (so assignment needs no second normalization pass) and
    scored by ``centroid_scorer`` — two-level when ``route_bc`` (the
    broadcast route of ``train_coarse``) is given, flat otherwise.
    Returns each row's ``n`` nearest centroid ids, nearest first."""
    from pyspark.sql.functions import pandas_udf

    score = centroid_scorer(bc, route_bc)

    @pandas_udf(ArrayType(IntegerType()))
    def nearest(vecs: pd.Series) -> pd.Series:
        return pd.Series(list(score(_unit(vecs), n)))

    return nearest


def quantized_cosine_topk(
    queries_df: DataFrame,
    base_df: DataFrame,
    k: int,
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact-rerank cosine top-k over an int8 SCALAR-QUANTIZED base — the
    memory-scale variant: per-dimension symmetric scales (max|x|/127),
    base vectors stored as int8 (4x smaller than float32, the difference
    between an index fitting executor memory or not), dequantized on the
    fly for scoring. Queries stay full-precision (asymmetric SQ, the
    FAISS SQ8 convention).

    The scale vector is a 64-double model artifact (one map-side-combined
    aggregate, driver fetch bounded by dim). Quantize/dequantize are pure
    Catalyst; scoring reuses the blocked-GEMM kNN join. Fully
    SQL-oracled: the clamp/floor quantizer is written identically in both
    engines, so ranks and distances hash-match.
    """
    dim = len(base_df.select(vec_col).head()[0])
    mx_row = base_df.select(
        F.array(
            *[
                F.max(F.abs(F.element_at(F.col(vec_col), j + 1).cast("double")))
                for j in range(dim)
            ]
        ).alias("mx")
    ).head()[0]
    # all-zero dims would divide by zero; their values quantize to 0 either way
    scales = [float(m) / 127.0 if m and m > 0 else 1.0 for m in mx_row]
    lit_scales = F.array(*[F.lit(s) for s in scales])
    quant = F.zip_with(
        F.col(vec_col),
        lit_scales,
        lambda x, s: F.greatest(
            F.lit(-127).cast("bigint"),
            F.least(F.lit(127).cast("bigint"), F.floor(x.cast("double") / s + 0.5)),
        ).cast("int"),
    )
    dequant_base = base_df.select(
        F.col(base_id),
        F.zip_with(quant, lit_scales, lambda q, s: q.cast("double") * s).alias(vec_col),
    )
    return knn_join(
        queries_df, dequant_base, k, "cosine",
        query_id=query_id, base_id=base_id, vec_col=vec_col,
        exclude_self=exclude_self,
    )


def _lsh_keys_udf(bits: int, tables: int, seed: int):
    """Arrow-batched LSH signature: each row's bucket in each of
    ``tables`` random-hyperplane tables, as the integer array
    ``tbl * 2^bits + bkt`` — one (batch x dim) @ (dim x tables*bits)
    GEMM plus a sign-bit pack per batch. The seeded hyperplanes are drawn
    for the batch's own vector width and memoised per width, so no driver
    job has to learn the width first."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    planes: dict[int, np.ndarray] = {}
    weights = 1 << np.arange(bits, dtype=np.int64)
    offsets = np.arange(tables, dtype=np.int64) << bits

    @pandas_udf(ArrayType(LongType()))
    def keys(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        dim = m.shape[1]
        if dim not in planes:
            planes[dim] = np.random.default_rng(seed).normal(size=(tables * bits, dim))
        signs = (m @ planes[dim].T) > 0  # (n, tables*bits)
        packed = signs.reshape(len(m), tables, bits).astype(np.int64) @ weights
        return pd.Series(list(packed + offsets))

    return keys


def lsh_cosine_topk(
    queries_df: DataFrame,
    base_df: DataFrame,
    k: int,
    bits: int = 4,
    tables: int = 8,
    seed: int = 42,
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: the exact cosine top-k among the base
    rows that share a random-hyperplane bucket with the query in at
    least one of ``tables`` tables.

    Returns (qid, nn_id, dist, rank) like knn_join, dist = -cos; recall
    vs cosine_topk is gated in tests (the driver records rows-only —
    hyperplane draws are seeded numpy, not SQL-expressible).

    Both sides carry their bucket keys as one integer array
    (``_lsh_keys_udf``), and ``knn_join`` takes it as ``match_col``: the
    list scan scores each base batch's run of one bucket against only the
    queries in that bucket, with the exact cosine GEMM, and scores a pair
    that meets in several tables once. So there is no join, no count job
    and no candidate-size bound: the base streams through the list scan
    in place, and the only shuffle is knn_join's per-query merge.
    """
    keys = _lsh_keys_udf(bits, tables, seed)

    def tagged(df: DataFrame, id_col: str) -> DataFrame:
        return df.select(id_col, vec_col, keys(F.col(vec_col)).alias("lsh_bucket"))

    return knn_join(
        tagged(queries_df, query_id), tagged(base_df, base_id), k, "cosine",
        query_id=query_id, base_id=base_id, vec_col=vec_col,
        exclude_self=exclude_self, match_col="lsh_bucket",
    )


def _check_subspaces(dim: int, m: int) -> None:
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")


def train_pq_codebooks(
    base_df: DataFrame,
    m: int,
    n_codes: int,
    max_iter: int,
    seed: int,
    train_sample: int,
    base_id: str,
    vec_col: str,
    n_base: int | None = None,
    dim: int | None = None,
):
    """Broadcast of per-subspace PQ codebooks (m, n_codes, dim/m), trained
    by seeded k-means on a bounded hash-sample of L2-NORMALIZED base
    vectors (the FAISS ``ProductQuantizer::train`` protocol). Like IVF
    centroids, the codebooks are a tiny model — the one driver collect is
    bounded by ``train_sample``, never the data size."""
    if n_base is None or dim is None:
        n_base, dim = count_and_dim(base_df, vec_col)
    _check_subspaces(dim, m)
    mat = _sample_matrix(base_df, train_sample, base_id, vec_col, n_base, dim)
    mat = np_normalize(mat)
    # the witness row may carry no vector (dim 0): check the real width
    _check_subspaces(mat.shape[1], m)
    dsub = mat.shape[1] // m
    books = np.stack(
        [
            _sample_kmeans(mat[:, j * dsub : (j + 1) * dsub], n_codes, max_iter, seed + j)
            for j in range(m)
        ]
    )
    return base_df.sparkSession.sparkContext.broadcast(books)


def pq_encode_udf(bc):
    """Arrow-batched PQ encoder: ARRAY<numeric> -> m uint8-range codes.

    Per batch: normalize, then for each subspace one (batch x n_codes)
    distance GEMM against the broadcast codebook — the whole encode is
    m small GEMMs, no per-row Python. The codes array is the PERSISTED
    index form: m bytes/vector vs 4*dim for float32 (32x at 64-d, m=8) —
    the difference between the index living in executor memory or not."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        books = bc.value  # (m, n_codes, dsub)
        mat = _unit(vecs)
        m_sub, _, dsub = books.shape
        codes = np.empty((len(mat), m_sub), dtype=np.int32)
        for j in range(m_sub):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin drops ||x||^2
            d = -2.0 * (sub @ books[j].T) + (books[j] ** 2).sum(axis=1)[None, :]
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def pq_decode_udf(bc):
    """Arrow-batched PQ reconstruction: codes -> concatenated codewords.

    dot(q, reconstruct(x)) == the classic ADC lookup-table sum (the LUT
    entry for subspace j, code c IS dot(q_j, codebook[j][c])), so running
    the reconstruction through the blocked-GEMM kNN join scores exactly
    what a hand-rolled ADC scan would — one BLAS call per batch instead
    of per-row byte gathers."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(ArrayType(DoubleType()))
    def decode(codes: pd.Series) -> pd.Series:
        books = bc.value
        c = np.stack([np.asarray(v, dtype=np.int64) for v in codes])  # (n, m)
        m_sub = c.shape[1]
        out = np.concatenate([books[j][c[:, j]] for j in range(m_sub)], axis=1)
        return pd.Series(list(out))

    return decode


def pq_cosine_topk(
    queries_df: DataFrame,
    base_df: DataFrame,
    k: int,
    m: int = 8,
    n_codes: int = 64,
    refine: int = 20,
    max_iter: int = 8,
    seed: int = 42,
    train_sample: int = 4096,
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Product-quantized approximate cosine top-k with exact refine.

    The reference reserves a PQ metric slot it never implements
    (include/efanna2e/distance.h:15, ``PQ=3``); this is that scale path
    done properly: train m per-subspace codebooks on a bounded sample,
    encode the base to m-byte codes, score queries against the
    RECONSTRUCTION (== ADC table lookups, see pq_decode_udf) with the
    staged blocked-GEMM kNN join, keep ``k*refine`` PQ candidates per
    query, then exact-rerank only those against the true vectors.

    Scale shape: codes are the persisted index (32x smaller at 64-d,
    m=8); the PQ scan is the same no-base-shuffle blocked GEMM as
    knn_exact; ``exact_rerank`` broadcasts the k*refine survivors per
    query and the query vectors, so the full-precision side is read once
    for encoding and once, streamed in place, for the refine — never
    shuffled. Returns (qid, nn_id, dist, rank) like knn_join, dist =
    -cos; recall vs cosine_topk is gated in tests.
    """
    bc = train_pq_codebooks(
        base_df, m, n_codes, max_iter, seed, train_sample, base_id, vec_col
    )
    encode = pq_encode_udf(bc)
    decode = pq_decode_udf(bc)

    recon = base_df.select(
        F.col(base_id),
        decode(encode(F.col(vec_col))).alias(vec_col),
    )
    # knn_join's two halves, so the staged query footers give n_q for the
    # rerank's size bounds without a count job
    q_path = _stage_queries("pq_cosine_topk", queries_df, recon, query_id, vec_col, None)
    cand = _staged_topk(
        q_path, recon, k * refine, "cosine", query_id, base_id, vec_col, exclude_self, None
    ).select("qid", "nn_id")
    m_sub, _, dsub = bc.value.shape
    sb, qb = _refine_estimates(staged_row_count([q_path]), m_sub * dsub, k, refine)
    return exact_rerank(
        queries_df, _refine_base(base_df, base_id, vec_col), cand, k, query_id,
        vec_col, surv_bytes=sb, q_bytes=qb,
    )


def build_ivfpq_index(
    base_df: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 64,
    max_iter: int = 8,
    seed: int = 42,
    train_sample: int = 4096,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    hierarchical: bool | None = None,
    branch: int | None = None,
    pq_train_sample: int | None = None,
) -> dict:
    """Build the IVF-PQ index as data + model, separated so the data part
    can be PERSISTED (sources/ann_index_io.py) and searched later without
    retraining:

    - ``lists``: DataFrame (cid, nn_id, code ARRAY<INT>) — the inverted
      lists, m bytes of PQ code per vector, persisted partitioned by cid.
      A search streams them as the base of its list scan, restricted to
      the probed cids, so a persisted index is read partition-pruned, as
      is the optional persisted full-precision ``vectors`` (also
      cid-partitioned) behind the rerank.
    - ``centroids`` (n_centroids, dim) / ``books`` (m, n_codes, dim/m):
      the trained model, kilobytes — broadcast at search time.
    """
    # one aggregate shared by both trainers; an m that cannot split the
    # vector fails here, before the coarse k-means
    n_base, dim = count_and_dim(base_df, vec_col)
    _check_subspaces(dim, m)
    cent, route = train_coarse(
        base_df, n_centroids, max_iter, seed, train_sample, base_id, vec_col,
        hierarchical=hierarchical, branch=branch, n_base=n_base, dim=dim,
    )
    sc = base_df.sparkSession.sparkContext
    bc_cent = sc.broadcast(cent)
    bc_route = sc.broadcast(route) if route is not None else None
    # PQ codebooks are m independent (n_codes x dim/m) models — their
    # sample need only cover n_codes clusters per subspace, NOT the
    # coarse quantizer's points-per-centroid budget. Tying both to
    # train_sample made the PQ Lloyd the wall at large nlist (measured
    # r11: the 64x163,840-row coarse sample fed a ~1.5 h driver-side PQ
    # pass whose model is identical in quality to one trained on ~100x
    # fewer points — the FAISS ProductQuantizer caps its own training
    # set the same way). None keeps the coupled legacy default, so the
    # pinned sf-scale entries are bit-unchanged.
    bc_books = train_pq_codebooks(
        base_df, m, n_codes, max_iter, seed + 1000,
        pq_train_sample if pq_train_sample is not None else train_sample,
        base_id, vec_col, n_base=n_base, dim=dim,
    )
    encode = pq_encode_udf(bc_books)
    lists = base_df.select(
        F.col(base_id).alias("nn_id"),
        F.element_at(
            nearest_centroids_udf(bc_cent, 1, route_bc=bc_route)(F.col(vec_col)), 1
        ).alias("cid"),
        encode(F.col(vec_col)).alias("code"),
    )
    out = {
        "lists": lists,
        "centroids": np.asarray(cent, dtype=np.float64),
        "books": np.asarray(bc_books.value, dtype=np.float64),
        "meta": {
            "metric": "cosine",
            "dim": int(cent.shape[1]),
            "n_centroids": int(cent.shape[0]),
            "m": int(bc_books.value.shape[0]),
            "n_codes": int(bc_books.value.shape[1]),
        },
    }
    if route is not None:
        # two-level routing structure: save_ivfpq persists it so later
        # vector backfills re-derive cid IDENTICALLY to the lists write
        # (routed and flat assignment disagree at cell boundaries)
        out["route"] = (
            np.asarray(route[0], dtype=np.float64),
            np.asarray(route[1], dtype=np.int64),
        )
    return out


def search_ivfpq_index(
    queries_df: DataFrame,
    index: dict,
    k: int,
    n_probe: int = 6,
    refine: int = 20,
    base_df: DataFrame | None = None,
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Search a built (or loaded) IVF-PQ index: probe n_probe inverted
    lists, score the PQ codes of their rows, keep k*refine, exact-rerank
    against full-precision vectors — ``base_df`` when given, else the
    index's own persisted ``vectors`` dataset when one was saved
    (``save_ivfpq(..., base_df=...)``, cid-partitioned). With neither,
    pure-ADC distances -q.r (r the code's reconstruction, q the unit
    query) are returned, the regime where only the index survives; the
    rerank returns -cos, the same convention.

    The probe and ADC stage is ``knn_join`` with metric ``"ip"`` and
    ``match_col="cid"``: the staged side is the unit queries with their
    ``n_probe`` nearest centroids as an integer array, and the base is
    ``index["lists"]`` with each code decoded to its reconstruction
    (``pq_decode_udf``), so each list's rows GEMM against only the
    queries probing that list. dot(q, reconstruct(x)) is the ADC
    lookup-table sum up to rounding. Each query's candidates are ordered
    by (dist, nn_id).

    The lists, and a persisted ``vectors`` frame, are restricted by a
    broadcast left-semi join on the probed cid set. On a cid-partitioned
    persisted index that join drives dynamic partition pruning, so the
    search reads only the probed lists' partitions of both datasets. The
    set is read back from the staged probes in one task, so it is
    exactly the lists the scan scores and costs no shuffle, and the
    staged footers give the query count the rerank's size bounds need."""
    spark = queries_df.sparkSession
    probe = nearest_centroids_udf(spark.sparkContext.broadcast(index["centroids"]), n_probe)
    decode = pq_decode_udf(spark.sparkContext.broadcast(index["books"]))
    probed = queries_df.select(
        query_id, _unit_udf()(F.col(vec_col)).alias(vec_col),
        probe(F.col(vec_col)).alias("cid"),
    )
    q_path = _stage_queries(
        "search_ivfpq_index", probed, index["lists"], query_id, vec_col, "cid"
    )
    cids = F.broadcast(
        spark.read.schema("cid array<int>").parquet(q_path)
        .select(F.explode("cid").alias("cid")).coalesce(1).distinct()
    )
    lists = index["lists"].join(cids, "cid", "left_semi").select(
        "cid", "nn_id", decode("code").alias(vec_col)
    )
    vectors = index.get("vectors")
    rerank = base_df is not None or vectors is not None
    scored = _staged_topk(
        q_path, lists, k * refine if rerank else k, "ip", query_id, "nn_id", vec_col,
        exclude_self, "cid",
    )
    if not rerank:
        return scored
    if base_df is not None:
        refine_base = _refine_base(base_df, base_id, vec_col)
    else:
        refine_base = vectors.join(cids, "cid", "left_semi").select(
            "nn_id", F.col("vec").alias("nv")
        )
    sb, qb = _refine_estimates(
        staged_row_count([q_path]), int(index["meta"]["dim"]), k, refine
    )
    return exact_rerank(
        queries_df, refine_base, scored.select("qid", "nn_id"), k, query_id, vec_col,
        surv_bytes=sb, q_bytes=qb,
    )


def _refine_base(base_df: DataFrame, base_id: str, vec_col: str) -> DataFrame:
    return base_df.select(
        F.col(base_id).alias("nn_id"), F.col(vec_col).alias("nv")
    )


def _refine_estimates(n_q: int, dim: int, k: int, refine: int) -> tuple[float, float]:
    """Upper-bound byte estimates for ``exact_rerank``'s two broadcast
    sides when each of ``n_q`` queries keeps k*refine survivors:
    (survivor id rows, query vectors)."""
    return n_q * k * refine * 24.0, n_q * (dim * 8 + 24.0)


def exact_rerank(
    queries_df: DataFrame,
    refine_base: DataFrame,
    survivors: DataFrame,
    k: int,
    query_id: str,
    vec_col: str,
    surv_bytes: float,
    q_bytes: float,
) -> DataFrame:
    """The engine's one exact rerank: score each approximate survivor
    ``(qid, nn_id)`` by exact cosine against the full-precision base
    (``refine_base``: ``nn_id`` + ``nv``) and keep the top k per query
    as (qid, nn_id, dist, rank), dist = -cos. PQ and IVF-PQ finish here.

    Both joins BROADCAST the survivors-derived side — survivor ids and
    query vectors, never the corpus — so the full-precision base is
    STREAMED in place (scanned, never shuffled). An unhinted sort-merge
    join shuffled the WHOLE base per search call: measured ~26 GB of
    shuffle at the 10^8 rehearsal, the local-scratch exhaustion that
    killed its probe-64 point (SCALE.md r8) — on a cluster, the entire
    corpus crossing the network per query batch.
    ``surv_bytes``/``q_bytes`` are the callers' upper-bound size
    estimates — a giant survivor set falls back to the planner's
    exchange instead of hard-failing Spark's 8 GB broadcast ceiling."""
    from mysteryann_spark.session import broadcast_if_under

    q_side = queries_df.select(
        F.col(query_id).alias("qid"), F.col(vec_col).alias("qv")
    )
    scored = (
        broadcast_if_under(survivors, surv_bytes)
        .join(refine_base, "nn_id")
        .join(broadcast_if_under(q_side, q_bytes), "qid")
        .select("qid", "nn_id", _cosine_dist_udf()("qv", "nv").alias("dist"))
    )
    return rank_topk(scored, k)


def ivfpq_cosine_topk(
    queries_df: DataFrame,
    base_df: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 6,
    m: int = 8,
    n_codes: int = 64,
    refine: int = 20,
    max_iter: int = 8,
    seed: int = 42,
    train_sample: int = 4096,
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    hierarchical: bool | None = None,
    branch: int | None = None,
) -> DataFrame:
    """IVF-PQ: coarse inverted lists + PQ codes + exact refine — the
    composition FAISS ships as ``IndexIVFPQ``, i.e. the index layout you
    actually persist at 100 TB: data partitioned (bucketed) by coarse
    centroid id, each row carrying only its m-byte PQ code; a query
    touches n_probe/n_centroids of the data and scores it by ADC, and
    full-precision vectors are read only for the final k*refine rerank.

    Thin composition of ``build_ivfpq_index`` + ``search_ivfpq_index`` —
    the same two halves the persisted path (sources/ann_index_io.py)
    round-trips through parquet, so in-memory and save/load searches are
    bit-identical by construction (parity-gated in tests)."""
    index = build_ivfpq_index(
        base_df, n_centroids, m, n_codes, max_iter, seed, train_sample, base_id,
        vec_col, hierarchical=hierarchical, branch=branch,
    )
    return search_ivfpq_index(
        queries_df, index, k, n_probe, refine, base_df,
        query_id=query_id, base_id=base_id, vec_col=vec_col,
        exclude_self=exclude_self,
    )
