"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query runs $SPARK_GRAFT_BENCH_SHOTS times (default 3); "queries"
reports the per-query MIN, "shots" the raw times, "codegen_compiles"
the generated classes each shot compiled (0 once its plans are cached)
and "jobs" the Spark jobs each shot ran (each shot runs under its own
job group, counted by the status tracker, no event log; a job submitted
from a helper thread, such as the build's medoid and base-staging
threads, carries no group and is not counted); "cpus" and
"default_parallelism" give the session's shape. One-shot
numbers on this box carry ~2x run-to-run jitter (BASELINE.md) — r7's
driver total read as a 24% regression that an idle-box re-run disproved;
min-of-N measures the plan, not the scheduler weather.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the registry queries timed one by one (perfbench's pipeline_sf0.1 runs
# the same list)
HEADLINE_QUERIES = (
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
    # round-4 surface: real image decode + feature extract at sf0.1
    # (5k encoded PPM/BMP payloads), and the sharding-sink manifest
    "multimodal_image_features",
    "pipeline_shard_manifest",
)


def main() -> None:
    from pyspark.sql import functions as F

    from mysteryann_spark.operators.projection import build_roargraph_from_table
    from mysteryann_spark.operators.search import search_graph
    from mysteryann_spark.params import IndexParams
    from mysteryann_spark.queries.registry import all_queries
    from mysteryann_spark.session import get_spark, usable_cpus
    from mysteryann_spark.sources.tables import load_table

    spark = get_spark(app_name="mysteryann-bench")
    registry = all_queries()
    n_shots = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_SHOTS", "3")))
    timings: dict[str, float] = {}
    shots: dict[str, list[float]] = {}
    compiles: dict[str, list[int]] = {}
    jobs: dict[str, list[int]] = {}
    sc = spark.sparkContext
    compile_count = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount

    def run(name: str, fn) -> None:
        ts: list[float] = []
        cs: list[int] = []
        js: list[int] = []
        for i in range(n_shots):
            group = f"bench-{name}-{i}"
            sc.setJobGroup(group, name)
            try:
                c0, t0 = compile_count(), time.time()
                fn()
                ts.append(round(time.time() - t0, 3))
                cs.append(compile_count() - c0)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            # the status tracker is fed by the asynchronous listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            js.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        timings[name] = min(ts)
        shots[name] = ts
        compiles[name] = cs
        jobs[name] = js

    # warm-up: JVM + parquet footer caches + Python/Arrow worker spawn
    # (reference warms 100 queries before timing,
    # tests/test_search_roargraph.cpp:197-200). The mapInPandas pass is
    # repartitioned to cluster parallelism so the WHOLE Python worker
    # pool forks and imports numpy/pandas before timing starts — a
    # single-partition warm-up spawns one worker and the first timed
    # pandas stage then pays ~2-3 s of concurrent worker ramp.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", usable_cpus()))
    load_table(spark, "lineitem", SF_DIR).count()
    _warm = load_table(spark, "embeddings", SF_DIR).limit(256).repartition(cpus)

    def _warm_fn(batches):
        # pre-import the staged-artifact reader: workers that first touch
        # a staged index inside a timed query would otherwise each pay
        # the pyarrow import (~2 s) there
        import pyarrow.parquet  # noqa: F401

        # warm the per-worker BLAS path at a realistic size: the FIRST
        # sizeable GEMM in a forked worker pays OpenBLAS init plus the
        # first-touch page faults of a fresh ~32 MB output buffer
        # (measured 0.05-0.2 s quiet, 1-5 s under host contention) —
        # r11's import-only warm-up left that to the first timed GEMM
        # stage. Same warm-up-completeness class as the imports above;
        # query computations are unchanged.
        import numpy as _np

        _np.matmul(_np.ones((2000, 64)), _np.ones((64, 2000)))

        yield from batches

    _warm.mapInPandas(_warm_fn, _warm.schema).count()

    # graph builds + full search: warmed here, timed after the queries
    from mysteryann_spark.queries.graph import IVF_PHASE0_OPTS

    params = IndexParams(M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="l2")
    state: dict = {}

    def build(table) -> None:
        adj, ep = build_roargraph_from_table(spark, table, params)
        state["adj"] = adj.localCheckpoint()
        state["ep"] = ep
        state["adj"].count()

    def build_ivf(table) -> None:
        # the sub-quadratic phase-0 variant (operators/knn_approx.py) —
        # timed against the exact build above; at sf0.1 the IVF overhead
        # (centroid train + assign) roughly breaks even, the win grows
        # with N (see SCALE.md)
        adj, _ = build_roargraph_from_table(
            spark, table, params, phase0="ivf", phase0_opts=IVF_PHASE0_OPTS
        )
        adj.count()

    # JIT/codegen warm-up for the graph-build path: both timed builds,
    # with the timed params, on the cached sf0.001 table, so they compile
    # the generated code the timed sf0.1 builds run (reference warm-up
    # runs real searches before timing for the same reason). Other params
    # or an uncached table plan differently and leave the first timed
    # shot compiling. The session's codegen cache
    # (session._CODEGEN_CACHE_ENTRIES) keeps these classes until the
    # timed builds: at Spark's default of 100 entries the 13 queries
    # below evicted most of them first.
    try:
        # substitute the sf component generically (sf0.1 / sf0.01 / ...)
        # so the tiny warm-up dir is right at any bench scale; skip the
        # graph warm-up entirely rather than run a full-size build
        tiny_dir = re.sub(r"sf[0-9.]+", "sf0.001", SF_DIR)
        if tiny_dir == SF_DIR or not os.path.isdir(tiny_dir):
            raise FileNotFoundError(tiny_dir)
        _wemb = load_table(spark, "embeddings", tiny_dir).cache()
        build(_wemb)
        build_ivf(_wemb)
        _wemb.unpersist()
    except Exception:
        pass  # warm-up only; never fail the bench

    for qname in HEADLINE_QUERIES:
        fn = registry[qname].fn
        run(qname, lambda fn=fn: fn(spark, SF_DIR).count())

    emb = load_table(spark, "embeddings", SF_DIR).cache()
    emb.count()
    run("roargraph_build", lambda: build(emb))
    run("roargraph_build_ivf", lambda: build_ivf(emb))

    def search() -> None:
        from mysteryann_spark.session import spread

        q = spread(emb.select(F.col("vec_id").alias("qid"), "embedding"))
        search_graph(
            q, emb, state["adj"], state["ep"], k=10, l_search=40, metric="l2"
        ).count()

    run("roargraph_search", search)

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "shots": shots,
                "sf": sf,
                "cpus": cpus,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "codegen_compiles": compiles,
                "jobs": jobs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
