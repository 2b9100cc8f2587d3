"""Exact kNN join + medoid — SURVEY.md §2.3 J1 and §2.4 A1.

The reference never computes exact kNN itself: it downloads precomputed
query→base ground-truth tables and loads them as build input
(``LoadLearnBaseKNN``, src/index_bipartite.cpp:2622-2639; fetch
prepare_data.sh:29). In a self-contained engine that table is produced by a
blocked brute-force kNN join, which doubles as the ground-truth generator
for recall evaluation — the same computation the reference's GT files
represent.

Scale shape (100 TB): the *training-query* side is the sampled/small side
(the reference holds all of it in RAM on one node too — index.h:61,64), so
it is broadcast once per executor; the base side streams through
``mapInPandas`` in Arrow batches, each batch doing one float64 GEMM
(np_distances — the vectorized replacement for the AVX kernels in
distance.h:22-226) and keeping only its local top-k. The global merge then
handles partitions × n_q × k candidate rows — independent of base
cardinality — with a per-qid window. No base-side shuffle at all: the only
shuffle is the final (qid)-partitioned top-k over the already-tiny
candidate set.
"""

from __future__ import annotations

from functools import partial, reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from mysteryann_spark.functions.vector import l2_sq, np_distances
from mysteryann_spark.sources.staging import (
    list_staged_files,
    load_staged,
    stage_parquet,
    table_matrix,
    table_ragged,
)

# Per-worker cap on the transient (query-chunk x arrow-batch) float64
# distance block inside the GEMM kernels: 256 MB x 32 local workers = 8 GB
# of in-flight distance blocks worst case. Per-query top-k is
# row-independent, but the GEMM rounds a row differently at another chunk
# height: distances can move in their last bits, so ids match unless two
# candidates tie to within rounding (tests/test_knn.py checks 1-3 rows).
_DMAT_BUDGET_BYTES = 256 * 1024 * 1024


def dmat_chunk_rows(n_cols: int, itemsize: int = 8) -> int:
    """Rows per chunk so one transient (rows x n_cols) scratch matrix of
    ``itemsize``-byte cells stays under the shared per-worker
    ``_DMAT_BUDGET_BYTES`` budget. Every bounded GEMM/distance block
    in the package sizes itself through this ONE helper so the budget
    means the same thing everywhere (a hand-rolled cell-count floor in the
    centroid-assignment UDF over-allocated 4x the intended bound at the
    256k-centroid 10^8 geometry)."""
    return max(1, int(_DMAT_BUDGET_BYTES // max(1, itemsize * n_cols)))

_CAND_SCHEMA = StructType(
    [
        StructField("qid", LongType(), False),
        StructField("nn_id", LongType(), False),
        StructField("dist", DoubleType(), False),
    ]
)

# (qid, nn_id, dist, rank) — the empty-result shape of knn_join and
# ivf_knn_join. A separate constant, NOT ``_CAND_SCHEMA.add(...)``:
# StructType.add mutates in place and returns self, so building the ranked
# schema at an early-return site would permanently widen _CAND_SCHEMA to 4
# fields and break every later mapInPandas kernel that yields 3 columns.
_RANKED_SCHEMA = StructType(
    list(_CAND_SCHEMA.fields) + [StructField("rank", IntegerType(), False)]
)


def _read_files(files: list[str], cols: list[str]):
    """Executor-side: one Arrow table over staged part files (URIs from
    ``list_staged_files``). pyarrow datasets don't URI-resolve path
    *lists*, so the filesystem is resolved explicitly (file:/hdfs:/s3:)."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    fs, first = pafs.FileSystem.from_uri(files[0])
    rel = [first] + [pafs.FileSystem.from_uri(p)[1] for p in files[1:]]
    return pq.read_table(rel, filesystem=fs, columns=cols)


def _inverted_lists(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(uniq, bounds, rows)``: the positions of ``vals`` holding
    ``uniq[j]`` are ``rows[bounds[j]:bounds[j + 1]]``, ascending. Three
    flat arrays rather than a dict, so a staged artifact holding them
    stays a tuple of ndarrays and is mapped host-shared."""
    rows = np.argsort(vals, kind="stable")
    uniq, starts = np.unique(vals[rows], return_index=True)
    return uniq, np.append(starts, len(vals)), rows


def _list_runs(inv: tuple, bvals: np.ndarray) -> Iterator[tuple]:
    """``(base rows, query rows)`` for each list value present on both
    sides: ``inv`` is the query side's ``_inverted_lists``, ``bvals`` the
    base batch's list values. Base rows come as a slice when ``bvals``
    is already sorted (an IVF batch sorted by cid, a single list, or an
    array batch's flattened keys), so those runs score a view of the
    batch, not a copy."""
    uniq, bounds, rows = inv
    if not len(bvals):
        return  # an array batch whose rows name no list
    order = None if np.all(bvals[1:] >= bvals[:-1]) else np.argsort(bvals, kind="stable")
    sv = bvals if order is None else bvals[order]
    starts = np.flatnonzero(np.r_[True, sv[1:] != sv[:-1]])
    for lo, hi in zip(starts, np.append(starts[1:], len(sv))):
        j = int(np.searchsorted(uniq, sv[lo]))
        if j == len(uniq) or uniq[j] != sv[lo]:
            continue  # a value only the base holds
        brows = slice(lo, hi) if order is None else order[lo:hi]
        yield brows, rows[bounds[j] : bounds[j + 1]]


def _query_lists(files: list[str], query_id: str, vec_col: str, match_col: str | None):
    """Executor-side: the staged query block as ``(qids, qmat, uniq,
    bounds, rows)`` — id-sorted rows and their ``_inverted_lists`` by
    ``match_col`` — built once per host, or None if the block holds no
    rows. Without ``match_col`` every row sits on one list; with it the
    staged column is an integer array (``_check_match_col``) and a row
    sits on every list its array names, so an empty array scores
    nothing and a one-entry array is a plain label."""

    def build():
        tbl = _read_files(files, [query_id, vec_col] + ([match_col] if match_col else []))
        if tbl.num_rows == 0:
            return None
        ids, mat = table_matrix(tbl, query_id, vec_col)
        if match_col is None:
            return (ids, mat) + _inverted_lists(np.zeros(len(ids), dtype=np.int64))
        # same stable id-argsort as table_matrix, so row i of the ragged
        # view is row i of qmat
        _, indptr, flat = table_ragged(tbl, query_id, match_col)
        uniq, bounds, pos = _inverted_lists(flat.astype(np.int64))
        owner = np.repeat(np.arange(len(ids), dtype=np.int64), np.diff(indptr))
        return ids, mat, uniq, bounds, owner[pos]

    return load_staged(f"knnq|{match_col}|" + "|".join(files), build)


def _base_batch(pdf: pd.DataFrame, base_id: str, vec_col: str, match_col: str | None):
    """A base Arrow batch as ``(bids, bmat, bvals, owner)``. ``bvals``
    are its ``match_col`` values, one per row (all zero, one list, when
    it is None), and ``owner`` is None. With an integer-array
    ``match_col`` a row sits on every list its array names: ``bvals``
    holds the batch's distinct (row, value) pairs sorted by value and
    ``owner[i]`` the row of pair ``i``."""
    bids = pdf[base_id].to_numpy(dtype=np.int64)
    bmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    if match_col is None:
        return bids, bmat, np.zeros(len(bids), dtype=np.int64), None
    col = pdf[match_col]
    if col.dtype != object:
        return bids, bmat, col.to_numpy(dtype=np.int64), None
    arrs = [np.asarray(v, dtype=np.int64) for v in col]
    flat = np.concatenate(arrs)
    owner = np.repeat(np.arange(len(bids), dtype=np.int64), [len(a) for a in arrs])
    order = np.lexsort((owner, flat))
    flat, owner = flat[order], owner[order]
    keep = np.ones(len(flat), dtype=bool)
    keep[1:] = (flat[1:] != flat[:-1]) | (owner[1:] != owner[:-1])
    return bids, bmat, flat[keep], owner[keep]


def _check_match_col(fn: str, match_col: str | None, queries_df, base_df) -> list:
    """Plan-time check that ``match_col`` is an integer column or an
    integer array on each side: the kernels compare list values as
    int64, so a string or float label would die mid-task with an opaque
    cast error. Returns the query side's staged list column —
    ``match_col`` as an array of distinct values, one entry for an
    integer — or no column without ``match_col``."""
    if match_col is None:
        return []
    from pyspark.sql.types import ArrayType, ByteType, ShortType

    q_dt = queries_df.schema[match_col].dataType
    for side, dt in (("queries_df", q_dt), ("base_df", base_df.schema[match_col].dataType)):
        if isinstance(dt, ArrayType):
            dt = dt.elementType
        if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
            raise TypeError(
                f"{fn} match_col {match_col!r} on {side} must be an integer "
                f"type or an integer array (got {dt.simpleString()}); cast "
                f"labels to int/bigint before the join"
            )
    col = F.col(match_col)
    lists = F.array_distinct(col) if isinstance(q_dt, ArrayType) else F.array(col)
    return [lists.alias(match_col)]


def _dist_blocks(qids, qmat, bids, bmat, metric, exclude_self, qrows):
    """``(qids_c, dmat)`` distance blocks of the ``qrows`` query rows
    against one base block, the query axis chunked under
    ``dmat_chunk_rows``. An unchunked (n_staged_q x n_batch) float64
    matrix scales with the staged-query count: at 60k queries x ~5k-row
    batches that is ~2.3 GB per in-flight batch, and cores x workers of
    those OOM-killed the 300k scale rehearsal. With ``exclude_self`` a
    query's own id gets distance inf."""
    q_chunk = dmat_chunk_rows(len(bids))
    for s in range(0, len(qrows), q_chunk):
        sel = qrows[s : s + q_chunk]
        qids_c = qids[sel]
        dmat = np_distances(metric, qmat[sel], bmat)
        if exclude_self:
            dmat[qids_c[:, None] == bids[None, :]] = np.inf
        yield qids_c, dmat


def _block_topk(
    qids: np.ndarray,
    qmat: np.ndarray,
    bids: np.ndarray,
    bmat: np.ndarray,
    k: int,
    metric: str,
    exclude_self: bool,
    qrows: np.ndarray,
) -> Iterator[pd.DataFrame]:
    """Local top-k of one base block: yields ``(qid, nn_id, dist)``
    frames holding each query's ``min(k, len(bids))`` nearest rows of
    ``bmat``, plus every further row tied with the last of them, so
    ``rank_topk``'s (dist, nn_id) order decides among ties (unordered;
    ``rank_topk`` merges the blocks). ``qrows`` picks the query rows to
    score (a ``_list_runs`` query run). With ``exclude_self`` a query's
    own id gets distance inf — masked before the local top-k, or a block
    owning the query's own row would surrender a slot — so the caller
    drops it. Per-query top-k is row-independent, so the query-axis
    chunking (``_dist_blocks``) changes distances only by GEMM rounding
    (see _DMAT_BUDGET_BYTES)."""
    for qids_c, dmat in _dist_blocks(qids, qmat, bids, bmat, metric, exclude_self, qrows):
        n = dmat.shape[1]
        m = min(k, n)
        # argpartition at m, not m - 1: the (m+1)-th distance shows
        # whether a tie crosses the k boundary
        part = np.argpartition(dmat, min(m, n - 1), axis=1)
        top = np.take_along_axis(dmat, part[:, : m + 1], axis=1)
        kth = top[:, :m].max(axis=1)
        qi = np.repeat(np.arange(len(dmat)), m)
        bi = part[:, :m].ravel()
        tied = np.flatnonzero(top[:, m] == kth) if m < n else ()
        if len(tied):
            tq, tb = np.nonzero(dmat[tied] <= kth[tied, None])
            keep = np.isin(qi, tied, invert=True)
            qi = np.concatenate([qi[keep], tied[tq]])
            bi = np.concatenate([bi[keep], tb])
        yield pd.DataFrame({"qid": qids_c[qi], "nn_id": bids[bi], "dist": dmat[qi, bi]})


def _block_range(
    qids: np.ndarray,
    qmat: np.ndarray,
    bids: np.ndarray,
    bmat: np.ndarray,
    radius: float,
    metric: str,
    exclude_self: bool,
    qrows: np.ndarray,
) -> Iterator[pd.DataFrame]:
    """The range twin of ``_block_topk``: yields ``(qid, nn_id, dist)``
    frames of every (query, base row) pair of one base block with
    distance <= ``radius``, never a query's own id with ``exclude_self``.
    The predicate is per pair, so query-axis chunking is exact."""
    for qids_c, dmat in _dist_blocks(qids, qmat, bids, bmat, metric, exclude_self, qrows):
        qi, bi = np.nonzero(dmat <= radius)
        if len(qi):
            yield pd.DataFrame({"qid": qids_c[qi], "nn_id": bids[bi], "dist": dmat[qi, bi]})


def rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Global merge of local top-k candidates ``(qid, nn_id, dist, ...)``:
    rank each query's rows by (dist, nn_id) — the reference's
    deterministic tiebreak (neighbor.h:29-31) — and keep ranks 1..k as
    ``(qid, nn_id, dist, rank)``."""
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nn_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nn_id", "dist", "rank")
    )


def _list_scan(
    files: list[str],
    base_df: DataFrame,
    kernel,
    query_id: str,
    base_id: str,
    vec_col: str,
    match_col: str | None,
) -> DataFrame:
    """The one list scan under knn_join, range_join and ivf_knn_join:
    each worker loads the staged query block ``files`` as inverted lists
    (``_query_lists``), and every base Arrow batch's run of one list
    value (``_base_batch``, ``_list_runs``) scores only against the
    queries on that list through ``kernel(qids, qmat, bids, bmat,
    qrows=...)``, a pair kernel (``_block_topk``, ``_block_range``)
    with its other arguments bound. Returns the kernel's ``(qid, nn_id,
    dist)`` rows, unmerged. When base rows carry arrays a pair can meet
    on several lists, so each batch's repeated (qid, nn_id) rows are
    dropped; a base row lives in one batch, so no repeat survives."""
    m_cols = [match_col] if match_col else []

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        loaded = _query_lists(files, query_id, vec_col, match_col)
        if loaded is None:
            return
        qids, qmat, *inv = loaded
        for pdf in batches:
            if pdf.empty:
                continue
            bids, bmat, bvals, owner = _base_batch(pdf, base_id, vec_col, match_col)
            runs = _list_runs(inv, bvals)
            if owner is None:
                for br, qr in runs:
                    yield from kernel(qids, qmat, bids[br], bmat[br], qrows=qr)
                continue
            got = [
                f
                for br, qr in runs
                for f in kernel(qids, qmat, bids[owner[br]], bmat[owner[br]], qrows=qr)
            ]
            if got:
                yield pd.concat(got, ignore_index=True).drop_duplicates(["qid", "nn_id"])

    return base_df.select(base_id, vec_col, *m_cols).mapInPandas(scan, _CAND_SCHEMA)


def knn_join(
    queries_df: DataFrame,
    base_df: DataFrame,
    k: int,
    metric: str = "l2",
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    query_block_rows: int | None = None,
    storage_dir: str | None = None,
    match_col: str | None = None,
) -> DataFrame:
    """Exact top-k join: for each query row, the k nearest base rows.

    Returns ``(qid, nn_id, dist, rank)`` with rank 1..k ordered by
    (dist, nn_id) — the reference's deterministic tiebreak
    (neighbor.h:29-31).

    The query side never round-trips through the driver: it is staged
    once to Parquet by a distributed write (sources/staging.py) and each
    Python worker lazily loads the block it is GEMMing. Default mode
    keeps the whole staged query set resident per worker (the
    reference's own regime — it holds every training query in RAM,
    index.h:61,64; at the flagship 10M x 200-d scale the old
    driver-collect path was a ~16 GB driver round-trip).
    ``query_block_rows`` bounds worker-resident query rows instead: the
    staged write splits into ceil(n_q / block) part files, each GEMMed
    against the (cached) base in its own pass, unioned before the global
    top-k window. Block count trades base rescans for unbounded query
    cardinality.

    ``match_col`` (optional) makes the join FILTERED: both sides must
    carry the column, and a base row only competes for a query's top-k
    when the values match (the Big-ANN filtered-track semantics — e.g.
    same-label retrieval). On either side it may be an integer array
    instead: a pair then matches when the two rows share ANY value (each
    value counted once; an empty array matches nothing). A query array
    is how ivf_knn_join and search_ivfpq_index probe their ``n_probe``
    lists; arrays on both sides are how lsh_cosine_topk meets on any of
    its hash tables, and a pair met on several values is scored once.
    The staged queries are grouped into one inverted list per value and
    each base batch's same-value rows score only against that list
    (``_list_scan``), so non-matching pairs are never computed and
    selectivity never costs a second scan.
    """
    q_path = _stage_queries(
        "knn_join", queries_df, base_df, query_id, vec_col, match_col, storage_dir,
        query_block_rows,
    )
    return _staged_topk(
        q_path, base_df, k, metric, query_id, base_id, vec_col, exclude_self, match_col,
        blocked=query_block_rows is not None,
    )


def _stage_queries(
    fn, queries_df, base_df, query_id, vec_col, match_col, storage_dir=None, block_rows=None
) -> str:
    """The query side's one distributed write (sources/staging.py):
    id, vector and ``_check_match_col``'s list column, split into
    ceil(n_q / ``block_rows``) part files when given. Returns the
    staged path; no query data reaches the driver."""
    q_lists = _check_match_col(fn, match_col, queries_df, base_df)
    q_sel = queries_df.select(query_id, vec_col, *q_lists)
    if block_rows is not None:
        import math

        q_sel = q_sel.repartition(max(1, math.ceil(q_sel.count() / block_rows)))
    return stage_parquet(q_sel, storage_dir)


def _staged_topk(
    q_path, base_df, k, metric, query_id, base_id, vec_col, exclude_self, match_col, blocked=False
) -> DataFrame:
    """knn_join's scan and merge over the queries staged at ``q_path``
    (``_stage_queries``): one list scan over all part files, or one per
    part file when ``blocked``, then the (qid)-window top-k."""
    # metadata-only file listing — no query data reaches the driver
    files = list_staged_files(q_path)
    if not files:
        return base_df.sparkSession.createDataFrame([], _RANKED_SCHEMA)
    blocks = [[f] for f in files] if blocked else [files]
    kernel = partial(_block_topk, k=k, metric=metric, exclude_self=exclude_self)
    candidates = reduce(
        DataFrame.unionByName,
        [_list_scan(b, base_df, kernel, query_id, base_id, vec_col, match_col) for b in blocks],
    )
    if exclude_self:
        candidates = candidates.where(F.col("dist") != float("inf"))
    return rank_topk(candidates, k)


def flat_to_arrays(flat: DataFrame) -> DataFrame:
    """Collapse ``(qid, nn_id, dist, rank)`` rows into the reference's
    per-query list shape ``(qid, nn ARRAY<BIGINT>, dists ARRAY<DOUBLE>)``
    (LoadLearnBaseKNN, src/index_bipartite.cpp:2622-2639), rank-ordered.
    Shared by the exact kNN join and the IVF-routed approximate one
    (operators/knn_approx.py) so both can feed the graph build phase 1."""
    return flat.groupBy("qid").agg(
        F.array_sort(F.collect_list(F.struct("rank", "nn_id", "dist"))).alias("triples")
    ).select(
        "qid",
        F.transform("triples", lambda t: t["nn_id"]).alias("nn"),
        F.transform("triples", lambda t: t["dist"]).alias("dists"),
    )


def knn_join_arrays(
    queries_df: DataFrame,
    base_df: DataFrame,
    k: int,
    metric: str = "l2",
    **kwargs,
) -> DataFrame:
    """Exact kNN join in the reference's list shape (see flat_to_arrays)."""
    return flat_to_arrays(knn_join(queries_df, base_df, k, metric, **kwargs))


def medoid(
    base_df: DataFrame,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, float]:
    """Centroid-then-medoid entry point (CalculateProjectionep,
    src/index_bipartite.cpp:2004-2041): mean of all vectors, then the base
    point closest to that mean (squared L2, (dist, id) tiebreak).

    Partial/final aggregation: per-dimension means via posexplode+avg (one
    map-side-combined shuffle of 64·n_partitions partial sums, not data),
    centroid collected (64 doubles — a scalar-sized aggregate), then a
    single scan computes distance-to-centroid and TakeOrdered(1) picks the
    medoid. Two scans total, no full shuffle of vectors.
    """
    cent_rows = (
        base_df.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .collect()
    )
    centroid = [r["m"] for r in sorted(cent_rows, key=lambda r: r["pos"])]
    cent_lit = F.array(*[F.lit(float(v)) for v in centroid])
    best = (
        base_df.select(
            F.col(base_id).alias("medoid_id"),
            l2_sq(F.col(vec_col), cent_lit).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("medoid_id").asc())
        .limit(1)
        .collect()[0]
    )
    return int(best["medoid_id"]), float(best["dist"])


def range_join(
    queries_df: DataFrame,
    base_df: DataFrame,
    radius: float,
    metric: str = "l2",
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    match_col: str | None = None,
) -> DataFrame:
    """Range (radius) join: every (query, base) pair with distance
    <= ``radius`` — the fixed-threshold sibling of the top-k kNN join
    (the reference's queue-based search bounds by COUNT, neighbor.h:138;
    a range join bounds by DISTANCE, the retrieval mode used for
    near-duplicate harvesting and recall curves). The engine's one
    threshold-pair kernel: embedding near-dup and SemDeDup call it with
    a cosine radius of ``-threshold``.

    Same scale shape as knn_join: the query side is staged once
    (executor-side Parquet, no driver round-trip), the base side streams
    through the same list scan with ``_block_range`` as its kernel,
    every distance block under ``dmat_chunk_rows`` — and, unlike top-k,
    no global merge is needed at all: the radius predicate is decided
    locally per batch, so there is ZERO shuffle and output size is the
    only cost. ``match_col`` restricts pairs to equal values (any shared
    value of an array), as in knn_join. Returns (qid, nn_id, dist).
    """
    files = list_staged_files(
        _stage_queries("range_join", queries_df, base_df, query_id, vec_col, match_col)
    )
    if not files:
        return base_df.sparkSession.createDataFrame([], _CAND_SCHEMA)
    kernel = partial(_block_range, radius=float(radius), metric=metric, exclude_self=exclude_self)
    return _list_scan(files, base_df, kernel, query_id, base_id, vec_col, match_col)
