"""Vector distance kernels.

Reference kernels are AVX-512 loops (include/efanna2e/distance.h:22-226):
- L2        — squared euclidean (DistanceL2::compare, distance.h:22-90)
- IP        — NEGATED inner product, so smaller = closer
              (DistanceInnerProduct::compare, negation at distance.h:223)
- COSINE    — L2-normalize both sides then IP
              (src/index_bipartite.cpp:35-37,71-77; util.h:214-225)

Spark-side the vectorized form is either (a) a Catalyst expression over
ARRAY<FLOAT> (zip_with/aggregate — stays in the JVM, whole-stage codegen,
and matches the DuckDB oracle bit-for-bit in double math), or (b) a numpy
float64 GEMM inside a pandas UDF for the blocked kNN hot path. Both keep
the reference's sign conventions: ALL metrics minimize.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _dot(a: Column | str, b: Column | str) -> Column:
    # sum over zip_with product, in double math (matches the DuckDB oracle).
    zipped = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(zipped, F.lit(0.0), lambda s, v: s + v)


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance (reference DistanceL2, distance.h:22-90)."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda s, v: s + v)


def inner_product(a: Column | str, b: Column | str) -> Column:
    """Negated dot product — smaller = closer (distance.h:223 convention)."""
    return -_dot(a, b)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    ))


def normalize_expr(a: Column | str) -> Column:
    """x / ||x||2 as ARRAY<DOUBLE> (reference normalize, util.h:214-225)."""
    norm = l2_norm(a)
    return F.transform(a, lambda x: x.cast("double") / norm)


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """Cosine-as-normalized-IP: -(a·b)/(|a||b|) (src/index_bipartite.cpp:35-37)."""
    return -(_dot(a, b) / (l2_norm(a) * l2_norm(b)))


def distance_col(metric: str, a: Column | str, b: Column | str) -> Column:
    if metric == "l2":
        return l2_sq(a, b)
    if metric == "ip":
        return inner_product(a, b)
    if metric == "cosine":
        return cosine_distance(a, b)
    raise ValueError(f"unknown metric {metric!r}")


# ---------------------------------------------------------------------------
# numpy kernels (the pandas-UDF hot path). Operands are cast to float64,
# the only staging dtype, so results agree with the SQL/DuckDB double math;
# the reference runs float32 SIMD but at 64-dim the rankings are identical
# and float64 keeps the oracle hash-stable.
# ---------------------------------------------------------------------------


def np_normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def np_pair_distances(metric: str, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise paired distances: out[i] = dist(a[i], b[i]), shape (n,).

    The batched beam search scores (query, neighbor) PAIRS — a full
    cross-product GEMM would waste batch_size x the flops — so this is
    the O(pairs * dim) einsum form of the same FastL2 / IP / cosine
    formulas as np_distances."""
    a = np.ascontiguousarray(a, dtype=np.float64)
    b = np.ascontiguousarray(b, dtype=np.float64)
    if metric == "l2":
        d = (
            np.einsum("ij,ij->i", a, a)
            + np.einsum("ij,ij->i", b, b)
            - 2.0 * np.einsum("ij,ij->i", a, b)
        )
        np.maximum(d, 0.0, out=d)
        return d
    if metric == "ip":
        return -np.einsum("ij,ij->i", a, b)
    if metric == "cosine":
        return -np.einsum("ij,ij->i", np_normalize(a), np_normalize(b))
    raise ValueError(f"unknown metric {metric!r}")


def np_distances(metric: str, queries: np.ndarray, base: np.ndarray) -> np.ndarray:
    """Pairwise distances, shape (n_queries, n_base); all metrics minimize.

    L2 uses the precomputed-norm identity |a-b|^2 = |a|^2 + |b|^2 - 2 a.b
    (reference DistanceFastL2, distance.h:227-322) so the inner loop is one
    GEMM — the blocked/vectorized replacement for the AVX kernels.
    """
    q = np.ascontiguousarray(queries, dtype=np.float64)
    b = np.ascontiguousarray(base, dtype=np.float64)
    if metric == "l2":
        qq = np.einsum("ij,ij->i", q, q)[:, None]
        bb = np.einsum("ij,ij->i", b, b)[None, :]
        d = qq + bb - 2.0 * (q @ b.T)
        np.maximum(d, 0.0, out=d)
        return d
    if metric == "ip":
        return -(q @ b.T)
    if metric == "cosine":
        return -(np_normalize(q) @ np_normalize(b).T)
    raise ValueError(f"unknown metric {metric!r}")
