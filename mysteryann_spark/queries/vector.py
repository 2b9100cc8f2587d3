"""Vector-workload queries with exact DuckDB oracles — SURVEY.md §2.8 F1-F6,
§2.3 J1/J4, §2.4 A1/A3, §2.9 G5.

Everything here is hash-checked: distances and norms in double math on both
engines, kNN ranks (dist, id)-tiebroken, and the testdata's inter-distance
gaps (>=1e-5) dwarf cross-engine float noise (<=1e-12), so ranks are
stable. Distances are rounded to 6 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from mysteryann_spark.functions.vector import (
    cosine_distance,
    distance_col,
    inner_product,
    l2_norm,
    l2_sq,
    normalize_expr,
)
from mysteryann_spark.operators.bipartite import build_bipartite
from mysteryann_spark.operators.evaluate import recall_at_k
from mysteryann_spark.operators.knn import knn_join, knn_join_arrays, medoid
from mysteryann_spark.queries.base import QuerySpec
from mysteryann_spark.sources.tables import load_table

_N_QUERIES = 50  # deterministic training-query slice: vec_id < 50
_K = 10


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir)


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _emb(spark, sf_dir)
        .where(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )


# --- norms / normalize (F3/F6) ---------------------------------------------


def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb(spark, sf_dir).select(
        "vec_id", F.round(l2_norm("embedding"), 6).alias("norm")
    )


_NORMS_SQL = """
SELECT vec_id, round(sqrt(sum(x * x)), 6) AS norm
FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
GROUP BY vec_id
"""


def fbin_roundtrip_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S5 connector parity: embeddings -> reference-native fbin ->
    distributed byte-range read back -> per-vector norms. Same oracle as
    vector_norms: float32 payload is preserved bit-exactly, so the norms
    hash-match the parquet-derived ones."""
    import os

    from mysteryann_spark.sources.fbin import read_fbin, write_fbin
    from mysteryann_spark.sources.staging import scratch_dir

    # a fresh file per call: the read is lazy, and no other driver can
    # rewrite it underneath; the stage root's exit cleanup removes it
    path = os.path.join(scratch_dir("mysteryann-fbin-"), "embeddings.fbin")
    write_fbin(_emb(spark, sf_dir), path)
    return read_fbin(spark, path).select(
        "vec_id", F.round(l2_norm("embedding"), 6).alias("norm")
    )


def vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = normalize_expr("embedding")
    return _emb(spark, sf_dir).select(
        "vec_id",
        *[F.round(F.element_at(norm, i + 1), 6).alias(f"c{i + 1}") for i in range(4)],
    )


_NORMALIZE_SQL = """
WITH n AS (
  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id)
SELECT e.vec_id,
       round(CAST(e.embedding[1] AS DOUBLE) / n.nrm, 6) AS c1,
       round(CAST(e.embedding[2] AS DOUBLE) / n.nrm, 6) AS c2,
       round(CAST(e.embedding[3] AS DOUBLE) / n.nrm, 6) AS c3,
       round(CAST(e.embedding[4] AS DOUBLE) / n.nrm, 6) AS c4
FROM embeddings e JOIN n USING (vec_id)
"""


# --- pairwise distances under all three metrics (F1/F2, cosine) ------------


def distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            F.round(l2_sq("ea", "eb"), 6).alias("l2_sq"),
            F.round(inner_product("ea", "eb"), 6).alias("ip"),
            F.round(cosine_distance("ea", "eb"), 6).alias("cosine_d"),
        )
    )


_DIST_SQL = """
WITH p AS (
  SELECT a.vec_id AS id_a,
         CAST(unnest(a.embedding) AS DOUBLE) AS xa,
         CAST(unnest(b.embedding) AS DOUBLE) AS xb
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1)
SELECT id_a,
       round(sum((xa - xb) * (xa - xb)), 6) AS l2_sq,
       round(-sum(xa * xb), 6) AS ip,
       round(-(sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb)))), 6) AS cosine_d
FROM p GROUP BY id_a
"""


# --- exact kNN join (J1 — the learn_base_knn_ producer) --------------------


def knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = knn_join(_queries(spark, sf_dir), _emb(spark, sf_dir), _K, "l2")
    return res.select("qid", "nn_id", F.round("dist", 6).alias("dist"), "rank")


_KNN_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_N_QUERIES}),
u AS (SELECT q.qid, b.vec_id AS nn_id,
             CAST(unnest(q.qe) AS DOUBLE) AS xa, CAST(unnest(b.embedding) AS DOUBLE) AS xb
      FROM q CROSS JOIN embeddings b),
d AS (SELECT qid, nn_id, sum((xa - xb) * (xa - xb)) AS dist FROM u GROUP BY qid, nn_id),
r AS (SELECT qid, nn_id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nn_id) AS INT) AS rank
      FROM d)
SELECT qid, nn_id, round(dist, 6) AS dist, rank FROM r WHERE rank <= {_K}
"""


# --- medoid entry point (A1) -----------------------------------------------


def knn_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    mid, dist = medoid(_emb(spark, sf_dir))
    return spark.createDataFrame([Row(medoid_id=mid, dist=round(dist, 6))])


_MEDOID_SQL = """
WITH idx AS (SELECT unnest(generate_series(
         1, (SELECT max(len(embedding)) FROM embeddings))) AS i),
c AS (SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS m
      FROM embeddings CROSS JOIN idx GROUP BY i),
d AS (SELECT vec_id, sum((CAST(embedding[i] AS DOUBLE) - m) * (CAST(embedding[i] AS DOUBLE) - m)) AS dist
      FROM embeddings CROSS JOIN c GROUP BY vec_id)
SELECT vec_id AS medoid_id, round(dist, 6) AS dist FROM d ORDER BY d.dist, vec_id LIMIT 1
"""


# --- recall join (J4/A3): cosine top-k measured against L2 top-k -----------


def knn_recall_l2_vs_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, e = _queries(spark, sf_dir), _emb(spark, sf_dir)
    l2 = knn_join_arrays(q, e, _K, "l2")
    cos = knn_join_arrays(q, e, _K, "cosine")
    return recall_at_k(cos, l2, _K).select("qid", F.round("recall", 6).alias("recall"))


_RECALL_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_N_QUERIES}),
u AS (SELECT q.qid, b.vec_id AS nn_id,
             CAST(unnest(q.qe) AS DOUBLE) AS xa, CAST(unnest(b.embedding) AS DOUBLE) AS xb
      FROM q CROSS JOIN embeddings b),
d AS (SELECT qid, nn_id, sum((xa - xb) * (xa - xb)) AS l2d,
             -(sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb)))) AS cosd
      FROM u GROUP BY qid, nn_id),
rl AS (SELECT qid, nn_id FROM (SELECT qid, nn_id, row_number() OVER (PARTITION BY qid ORDER BY l2d, nn_id) AS r FROM d) WHERE r <= {_K}),
rc AS (SELECT qid, nn_id FROM (SELECT qid, nn_id, row_number() OVER (PARTITION BY qid ORDER BY cosd, nn_id) AS r FROM d) WHERE r <= {_K})
SELECT rl.qid, round(sum(CASE WHEN rc.nn_id IS NOT NULL THEN 1 ELSE 0 END) / {_K}.0, 6) AS recall
FROM rl LEFT JOIN rc ON rl.qid = rc.qid AND rl.nn_id = rc.nn_id
GROUP BY rl.qid
"""


def knn_rderr_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (ComputeRderr, tests/test_search_roargraph.cpp:38-62): relative
    distance error of an approximate kNN vs exact ground truth. The
    approximate method is dimension truncation (rank by the first 32 of
    64 dims, re-score survivors with the full metric) — a real pre-ranking
    technique, and SQL-expressible so the evaluator gets a full oracle."""
    from mysteryann_spark.operators.evaluate import relative_distance_error

    q, e = _queries(spark, sf_dir), _emb(spark, sf_dir)
    half = lambda df, c: df.withColumn(c, F.slice(c, 1, 32))  # noqa: E731
    approx_ids = knn_join(
        half(q, "embedding"), half(e.select("vec_id", "embedding"), "embedding"), _K, "l2"
    ).select("qid", "nn_id", "rank")
    # re-score the truncated-ranked candidates with the FULL distance
    rescored = (
        approx_ids.join(q.select("qid", F.col("embedding").alias("qe")), "qid")
        .join(e.select(F.col("vec_id").alias("nn_id"), F.col("embedding").alias("be")), "nn_id")
        .select("qid", "rank", distance_col("l2", "qe", "be").alias("dist"))
        .groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "dist"))).alias("t"))
        .select("qid", F.transform("t", lambda x: x["dist"]).alias("dists"))
    )
    gt = knn_join_arrays(q, e, _K, "l2")
    return relative_distance_error(rescored, gt, _K).select(
        "qid", F.round("rderr", 6).alias("rderr")
    )


_RDERR_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_N_QUERIES}),
u AS (SELECT q.qid, b.vec_id AS nn_id, s.i AS i,
             CAST(q.qe[s.i] AS DOUBLE) AS xa, CAST(b.embedding[s.i] AS DOUBLE) AS xb
      FROM q CROSS JOIN embeddings b CROSS JOIN (SELECT unnest(generate_series(
               1, (SELECT max(len(embedding)) FROM embeddings))) AS i) s),
d AS (SELECT qid, nn_id,
             sum((xa - xb) * (xa - xb)) AS fulld,
             sum(CASE WHEN i <= 32 THEN (xa - xb) * (xa - xb) ELSE 0 END) AS halfd
      FROM u GROUP BY qid, nn_id),
ap AS (SELECT qid, nn_id, fulld, row_number() OVER (PARTITION BY qid ORDER BY halfd, nn_id) AS r FROM d),
ad AS (SELECT qid, list(fulld ORDER BY r) AS res_d FROM ap WHERE r <= {_K} GROUP BY qid),
gt AS (SELECT qid, nn_id, fulld, row_number() OVER (PARTITION BY qid ORDER BY fulld, nn_id) AS r FROM d),
gd AS (SELECT qid, list(fulld ORDER BY r) AS gt_d FROM gt WHERE r <= {_K} GROUP BY qid)
SELECT ad.qid,
       round(list_sum(list_transform(generate_series(1, {_K}),
             j -> CASE WHEN abs(ad.res_d[j] - gd.gt_d[j]) < 1e-9 THEN 0
                       ELSE abs(ad.res_d[j] - gd.gt_d[j]) / greatest(abs(gd.gt_d[j]), 1e-12) END)) / {_K}.0, 6) AS rderr
FROM ad JOIN gd ON ad.qid = gd.qid
"""


def udf_registry_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12: the metric registry exercised through plain SQL — pairwise
    distances between consecutive embeddings via the registered
    ``dist_l2``/``dist_ip``/``dist_cosine`` pandas UDFs."""
    from mysteryann_spark.functions.registry import register_metric_udfs

    register_metric_udfs(spark)
    _emb(spark, sf_dir).createOrReplaceTempView("emb_udf")
    return spark.sql(f"""
        SELECT a.vec_id,
               round(dist_l2(a.embedding, b.embedding), 6) AS d_l2,
               round(dist_ip(a.embedding, b.embedding), 6) AS d_ip,
               round(dist_cosine(a.embedding, b.embedding), 6) AS d_cos
        FROM emb_udf a JOIN emb_udf b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id < {_N_QUERIES}
    """)


_UDF_REG_SQL = f"""
WITH u AS (SELECT a.vec_id, CAST(unnest(a.embedding) AS DOUBLE) AS xa,
                  CAST(unnest(b.embedding) AS DOUBLE) AS xb
           FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
           WHERE a.vec_id < {_N_QUERIES})
SELECT vec_id,
       round(sum((xa - xb) * (xa - xb)), 6) AS d_l2,
       round(-sum(xa * xb), 6) AS d_ip,
       round(-(sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb)))), 6) AS d_cos
FROM u GROUP BY vec_id
"""


# --- bipartite graph edges (G5) --------------------------------------------


def bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge list of qbaseNNbipartite built from the exact kNN lists; query
    nodes offset by the base count (global ID space)."""
    from mysteryann_spark.sources.tables import table_row_count

    e = _emb(spark, sf_dir)
    # exact count from the table's parquet footers, driver-side — the
    # count() job (plus its driver gap) was pure metadata re-derivation
    base_count = table_row_count("embeddings", sf_dir)
    knn = knn_join_arrays(_queries(spark, sf_dir), e, _K, "l2")
    adj = build_bipartite(knn, _K, base_count)
    return adj.select("node", F.explode("nbrs").alias("nbr"))


_BIPARTITE_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_N_QUERIES}),
u AS (SELECT q.qid, b.vec_id AS nn_id,
             CAST(unnest(q.qe) AS DOUBLE) AS xa, CAST(unnest(b.embedding) AS DOUBLE) AS xb
      FROM q CROSS JOIN embeddings b),
d AS (SELECT qid, nn_id, sum((xa - xb) * (xa - xb)) AS dist FROM u GROUP BY qid, nn_id),
r AS (SELECT qid, nn_id, row_number() OVER (PARTITION BY qid ORDER BY dist, nn_id) AS rank FROM d),
nb AS (SELECT count(*) AS n FROM embeddings),
t AS (SELECT qid, nn_id AS tgt FROM r WHERE rank = 1)
SELECT r.qid + nb.n AS node, r.nn_id AS nbr
FROM r JOIN t USING (qid) CROSS JOIN nb
WHERE r.rank <= {_K} AND r.nn_id != t.tgt
UNION ALL
SELECT t.tgt AS node, t.qid + nb.n AS nbr FROM t CROSS JOIN nb
"""


QUERIES: dict[str, QuerySpec] = {
    "vector_norms": QuerySpec(vector_norms, _NORMS_SQL),
    "fbin_roundtrip_norms": QuerySpec(fbin_roundtrip_norms, _NORMS_SQL),
    "vector_normalize": QuerySpec(vector_normalize, _NORMALIZE_SQL),
    "distance_pairs": QuerySpec(distance_pairs, _DIST_SQL),
    "knn_exact": QuerySpec(knn_exact, _KNN_SQL),
    "knn_medoid": QuerySpec(knn_medoid, _MEDOID_SQL),
    "knn_recall_l2_vs_cosine": QuerySpec(knn_recall_l2_vs_cosine, _RECALL_SQL),
    "knn_rderr_truncated": QuerySpec(knn_rderr_truncated, _RDERR_SQL),
    "udf_registry_distances": QuerySpec(udf_registry_distances, _UDF_REG_SQL),
    "bipartite_edges": QuerySpec(bipartite_edges, _BIPARTITE_SQL),
}
