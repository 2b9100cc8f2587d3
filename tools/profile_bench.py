"""Optimization measurement harness.

Captures, for every bench query (bench.py's headline set plus the graph
build/search legs), the formatted physical plan into
``plans/<round>/<query>_<tag>.txt`` and a noop-sink timing (guide §1.4: the
noop sink computes every column; bench.py's contractual ``.count()``
timing stays the comparison number — this harness exists to ISOLATE the
computation for optimization work, not to replace the bench).

Usage:
    python tools/profile_bench.py <round> <tag> [query ...]

``round`` names the plans subdirectory and labels the jobs and the JSON
line (e.g. r14); ``tag`` is the plan-file suffix (before/after). With no
query names, runs the full bench set. Timings print one JSON line to
stdout (min of $SPARK_GRAFT_BENCH_SHOTS shots, default 2).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [
    "flagship_revenue_by_nation",
    "pricing_summary",
    "window_rank",
    "brand_sales",
    "knn_exact",
    "bipartite_edges",
    "dedup_minhash_lsh",
    "dedup_exact",
    "doc_quality",
    "ann_ivf_topk",
    "events_interval_join",
    "multimodal_image_features",
    "pipeline_shard_manifest",
]


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit("usage: python tools/profile_bench.py <round> <tag> [query ...]")
    rnd, tag = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    plans_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(plans_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from mysteryann_spark.operators.projection import build_roargraph_from_table
    from mysteryann_spark.operators.search import search_graph
    from mysteryann_spark.params import IndexParams
    from mysteryann_spark.queries.registry import all_queries
    from mysteryann_spark.session import get_spark
    from mysteryann_spark.sources.tables import load_table

    spark = get_spark(app_name=f"mysteryann-profile-{rnd}")
    sc = spark.sparkContext
    registry = all_queries()
    n_shots = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_SHOTS", "2")))
    timings: dict[str, float] = {}
    shots: dict[str, list[float]] = {}

    def plan_of(df) -> str:
        return sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def record(name: str, mk_df, action=noop) -> None:
        # construction happens INSIDE the timer, matching bench.py (the
        # graph build runs eager jobs while building its DataFrame)
        ts = []
        df = None
        for i in range(n_shots):
            sc.setJobDescription(f"{rnd}:{name}:shot{i}")
            t0 = time.time()
            df = mk_df()
            action(df)
            ts.append(round(time.time() - t0, 3))
            sc.setJobDescription(None)
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan_of(df))
        timings[name] = min(ts)
        shots[name] = ts

    # --- the same warm-up as bench.py ---------------------------------
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    load_table(spark, "lineitem", SF_DIR).count()
    _warm = load_table(spark, "embeddings", SF_DIR).limit(256).repartition(cpus)

    def _warm_fn(batches):
        import pyarrow.parquet  # noqa: F401

        import numpy as _np

        # mirror bench.py's BLAS/page-fault warm-up (see bench.py)
        _np.matmul(_np.ones((2000, 64)), _np.ones((64, 2000)))

        yield from batches

    _warm.mapInPandas(_warm_fn, _warm.schema).count()
    try:
        tiny_dir = re.sub(r"sf[0-9.]+", "sf0.001", SF_DIR)
        if tiny_dir == SF_DIR or not os.path.isdir(tiny_dir):
            raise FileNotFoundError(tiny_dir)
        _wemb = load_table(spark, "embeddings", tiny_dir)
        _wadj, _ = build_roargraph_from_table(
            spark, _wemb, IndexParams(M_sq=8, M_pjbp=4, L_pjpq=12, k=5, L_pq=12, metric="l2")
        )
        _wadj.count()
    except Exception:
        pass

    for qname in BENCH_QUERIES:
        if only and qname not in only:
            continue
        fn = registry[qname].fn
        record(qname, lambda fn=fn: fn(spark, SF_DIR))

    params = IndexParams(M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="l2")
    emb = load_table(spark, "embeddings", SF_DIR).cache()
    emb.count()
    state: dict = {}

    def mk_build():
        adj, ep = build_roargraph_from_table(spark, emb, params)
        state["adj"] = adj.localCheckpoint()
        state["ep"] = ep
        return state["adj"]

    def mk_build_ivf():
        from mysteryann_spark.queries.graph import IVF_PHASE0_OPTS

        adj, _ = build_roargraph_from_table(
            spark, emb, params, phase0="ivf", phase0_opts=IVF_PHASE0_OPTS
        )
        return adj

    def mk_search():
        from mysteryann_spark.session import spread

        q = spread(emb.select(F.col("vec_id").alias("qid"), "embedding"))
        return search_graph(
            q, emb, state["adj"], state["ep"], k=10, l_search=40, metric="l2"
        )

    if not only or "roargraph_build" in only:
        record("roargraph_build", mk_build, action=lambda df: df.count())
    if not only or "roargraph_build_ivf" in only:
        record("roargraph_build_ivf", mk_build_ivf, action=lambda df: df.count())
    if not only or "roargraph_search" in only:
        if "adj" not in state:
            mk_build().count()
        record("roargraph_search", mk_search)

    print(
        json.dumps(
            {
                "metric": f"{rnd}_profile",
                "tag": tag,
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "shots": shots,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
