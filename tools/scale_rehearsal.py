"""Scale rehearsal: build + search + recall-gate the RoarGraph pipeline at
10^5-10^6 x 64-d — two to three orders of magnitude above the sf0.01
correctness scale — and record the timings that back the per-operator
100 TB design claims (r3 VERDICT "What's missing" #3).

Vectors are synthesized DISTRIBUTED (spark.range -> mapInPandas with a
per-partition seeded RNG): no driver-side materialization at any N, the
same regime a 1000-executor cluster would use. The distribution is a
256-center gaussian mixture — deliberately clustered, because clustered
data is what exposed (and now regression-guards) two real scale hazards:
unbounded merged prune pools (fixed by the occlusion pool_cap) and
disconnected graph components (fixed by ensure_reachable's BFS + bridge
repair, the live analog of the reference's dead CollectPoints pass).

Ground truth for the recall gate is the exact kNN join over a query
sample — itself one of the operators under rehearsal. Recall is reported
as an L_pq sweep (the reference's own acceptance protocol); the gate is
recall@10 >= 0.9 at the widest beam.

Run:   python tools/scale_rehearsal.py [N] [N_QUERY_SAMPLE] [N_TRAIN] [BUILD_WIDTH] [PHASE0]
       (defaults 100_000, 1_000, all, 1, exact; N_TRAIN samples the
       training query set for the build — the reference's own regime is a
       sampled query set — BUILD_WIDTH>1 frontier-batches the connectivity
       phase, and PHASE0=ivf swaps the exact training-kNN for the
       IVF-routed sub-quadratic one (operators/knn_approx.py); one JSON
       line per stage — paste into SCALE.md)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import os as _env

DIM = 64
# SCALE_N_CENTERS: the mixture's center count. The 256 default makes
# per-cluster density GROW with N (390 pts/center at 100k, 3906 at 1M) —
# a deliberately adversarial densifying geometry. Fixed-density scaling
# (centers ∝ N) is the fair "same data, more of it" regime; the 1M
# fixed-density run is the measured separation of engine-scaling from
# geometry-densifying (SCALE.md).
N_CENTERS = int(_env.environ.get("SCALE_N_CENTERS", 256))
CENTER_SCALE = 2.0


def synth_embeddings(spark, n: int, dim: int = DIM, seed: int = 7, parts: int = 64):
    """Deterministic distributed synthesis: clustered gaussians so the
    graph has real neighborhood structure — uniform noise would make
    every kNN list arbitrary and recall meaningless."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out_vecs = []
            for vid in ids:
                rng = np.random.default_rng(seed * 1_000_003 + int(vid))
                center_rng = np.random.default_rng(seed + int(vid) % N_CENTERS)
                center = center_rng.standard_normal(dim) * CENTER_SCALE
                out_vecs.append(
                    (center + rng.standard_normal(dim)).astype(np.float32)
                )
            yield pd.DataFrame({"vec_id": ids, "embedding": list(out_vecs)})

    return (
        spark.range(0, n, 1, parts)
        .mapInPandas(gen, "vec_id bigint, embedding array<float>")
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000
    n_train = int(sys.argv[3]) if len(sys.argv) > 3 else None
    build_width = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    phase0 = sys.argv[5] if len(sys.argv) > 5 else "exact"

    from pyspark.sql import functions as F

    from mysteryann_spark.operators.evaluate import mean_recall
    from mysteryann_spark.operators.knn import knn_join_arrays
    from mysteryann_spark.operators.projection import build_roargraph_from_table
    from mysteryann_spark.operators.search import search_graph
    from mysteryann_spark.params import IndexParams
    from mysteryann_spark.session import get_spark

    import os as _os

    # hazard #7: size shuffle partitions to data volume, not cores — the
    # candidate/prune shuffles carry O(n * M) bare-id rows, and ~cores
    # partitions put tens of millions of rows in each concurrent in-heap
    # sort at 10^7 scale (the same UnsafeExternalSorter OOM the 10^7
    # dedup rehearsal hit). AQE coalesces the excess on small stages.
    shuffle_parts = _env.environ.get("SCALE_SHUFFLE_PARTITIONS")
    spark = get_spark(
        app_name=f"scale-rehearsal-{n}",
        shuffle_partitions=int(shuffle_parts) if shuffle_parts else None,
    )
    # SCALE_M_SQ / SCALE_M_PJBP / SCALE_L_PJPQ override the default build
    # knobs — the density-vs-M experiments (SCALE.md: "scale M_pjbp with
    # density") need non-default M at fixed N. The cache key includes the
    # params, so overridden runs never collide with default-built graphs.
    params = IndexParams(
        M_sq=int(_os.environ.get("SCALE_M_SQ", 32)),
        M_pjbp=int(_os.environ.get("SCALE_M_PJBP", 16)),
        L_pjpq=int(_os.environ.get("SCALE_L_PJPQ", 64)),
        k=10, L_pq=100, metric="l2",
    )

    # SCALE_NO_CACHE: at 10^8 the cached vector rows (~25.6 GB payload,
    # 2-3x that as JVM objects) evict everything else from the single
    # local JVM — the synth is deterministic and ~5 min/pass, so
    # recomputing beats thrashing (the r11 dense IVF-PQ protocol)
    emb = synth_embeddings(spark, n)
    if not _env.environ.get("SCALE_NO_CACHE"):
        emb = emb.cache()
    t0 = time.time()
    emb.count()
    t_synth = time.time() - t0
    print(json.dumps({"stage": "synth", "n": n, "dim": DIM, "sec": round(t_synth, 1)}),
          flush=True)

    # SCALE_INDEX_DIR: persist the built graph (sources/graph_io) so repeat
    # sweeps at the same N don't pay the build again — the build-once /
    # sweep-many lifecycle the engine itself supports.
    import os

    from mysteryann_spark.sources.graph_io import load_index, save_index

    idx_dir = os.environ.get("SCALE_INDEX_DIR")
    # graph params are part of the cache key: a re-run with different
    # M_sq/M_pjbp/L_pjpq must rebuild, not silently sweep the old graph
    idx_path = (
        f"{idx_dir}/n{n}_t{n_train or n}"
        f"_M{params.M_sq}-{params.M_pjbp}-{params.L_pjpq}_w{build_width}"
        + ("" if phase0 == "exact" else f"_p0{phase0}")
        + ("" if N_CENTERS == 256 else f"_c{N_CENTERS}")
        if idx_dir
        else None
    )
    # SCALE_PHASE0_DIR: persist/reuse the phase-0 training-kNN table —
    # the multi-session segmentation point for 10^8-order builds (the
    # reference's own regime: precomputed GT loaded as build input,
    # LoadLearnBaseKNN). With SCALE_STOP_AFTER=phase0 the session ends
    # once the table lands, so a later session resumes phases 1-5 from
    # it without re-paying phase 0.
    p0_dir = os.environ.get("SCALE_PHASE0_DIR")
    # SCALE_P0_CENTROIDS / SCALE_P0_PROBE: ivf phase-0 geometry overrides
    # (the default caps n_centroids at 4096; a 10^8 build wants sqrt-N
    # lists, which crosses the hierarchical-routing threshold)
    p0_opts: dict = {}
    if os.environ.get("SCALE_P0_CENTROIDS"):
        p0_opts["n_centroids"] = int(os.environ["SCALE_P0_CENTROIDS"])
    if os.environ.get("SCALE_P0_PROBE"):
        p0_opts["n_probe"] = int(os.environ["SCALE_P0_PROBE"])
    knn_df = None
    if p0_dir and phase0 != "exact" and not (
        idx_path and os.path.isdir(f"{idx_path}/adjacency")
    ):
        p0_path = (
            f"{p0_dir}/p0_n{n}_t{n_train or n}_M{params.M_sq}_{phase0}"
            + ("" if N_CENTERS == 256 else f"_c{N_CENTERS}")
            + "".join(f"_{k}{v}" for k, v in sorted(p0_opts.items()))
        )
        if not os.path.exists(f"{p0_path}/_SUCCESS"):
            from mysteryann_spark.operators.knn_approx import ivf_knn_join_arrays

            q_train = emb.select(F.col("vec_id").alias("qid"), "embedding")
            if n_train is not None:
                q_train = q_train.where(F.col("qid") < n_train)
            t0 = time.time()
            ivf_knn_join_arrays(
                q_train, emb.select("vec_id", "embedding"), params.M_sq,
                params.metric, **p0_opts,
            ).write.mode("overwrite").parquet(p0_path)
            print(json.dumps({
                "stage": "phase0", "n": n, "n_train": n_train or n,
                "sec": round(time.time() - t0, 1), "path": p0_path,
            }), flush=True)
        knn_df = spark.read.parquet(p0_path)
        print(json.dumps({
            "stage": "phase0_loaded", "path": p0_path, "rows": knn_df.count(),
        }), flush=True)
        if os.environ.get("SCALE_STOP_AFTER") == "phase0":
            spark.stop()
            return

    if idx_path and os.path.isdir(f"{idx_path}/adjacency"):
        adj, meta = load_index(spark, idx_path)
        adj = adj.localCheckpoint()
        ep = int(meta["entry_point"])
        # belt-and-braces: the persisted header must agree with the CLI params
        for field, want in (("m_sq", params.M_sq), ("m_pjbp", params.M_pjbp),
                            ("l_pjpq", params.L_pjpq)):
            if int(meta[field]) != want:
                raise SystemExit(
                    f"cached index {idx_path} was built with {field}="
                    f"{meta[field]}, current run wants {want} — delete the "
                    "cache dir or change SCALE_INDEX_DIR"
                )
        print(json.dumps({
            "stage": "load_index", "n": n, "path": idx_path,
            "nodes": adj.count(),
        }), flush=True)
    else:
        t0 = time.time()
        adj, ep = build_roargraph_from_table(
            spark, emb, params, n_queries=n_train, ensure_reachable=True,
            expand_width=build_width, phase0=phase0, knn_df=knn_df,
            phase0_opts=p0_opts or None,
        )
        adj = adj.localCheckpoint()
        n_nodes = adj.count()
        t_build = time.time() - t0
        degs = adj.select(F.size("nbrs").alias("d")).agg(
            F.avg("d").alias("avg"), F.max("d").alias("mx")
        ).collect()[0]
        print(json.dumps({
            "stage": "build", "n": n, "sec": round(t_build, 1),
            "nodes": n_nodes, "avg_degree": round(degs["avg"], 1),
            "max_degree": degs["mx"],
            "params": {"M_sq": params.M_sq, "M_pjbp": params.M_pjbp,
                       "L_pjpq": params.L_pjpq},
            "n_train": n_train or n, "build_width": build_width,
            "phase0": phase0,
        }), flush=True)
        if idx_path:
            save_index(adj, idx_path, entry_point=ep, dim=DIM, params=params)
            print(json.dumps({"stage": "save_index", "path": idx_path}), flush=True)

    from mysteryann_spark.operators.search import stage_graph_index
    from mysteryann_spark.session import spread

    # spread: a contiguous vec_id slice of a range-partitioned synth table
    # lands in ONE partition — unspread, the whole search runs on one core
    q = spread(
        emb.where(F.col("vec_id") < nq).select(F.col("vec_id").alias("qid"), "embedding")
    ).localCheckpoint()
    t0 = time.time()
    gt = knn_join_arrays(q, emb, params.k, params.metric)
    gt = gt.localCheckpoint()
    gt.count()
    t_exact = time.time() - t0
    print(json.dumps({
        "stage": "exact_gt", "n": n, "n_queries": nq, "sec": round(t_exact, 1),
    }), flush=True)

    staged = stage_graph_index(emb.select("vec_id", "embedding"), adj)
    gate_recall = 0.0
    sweep = ((100, 1), (100, 4), (200, 1), (200, 4), (400, 4))
    if os.environ.get("SCALE_SWEEP_WIDE"):
        # the reference's own acceptance protocol runs L up to 2000
        # (run_roargraph_search_test.sh) — at bigger N the 0.9 recall
        # crossing moves right, so chase it
        sweep = ((100, 4), (200, 4), (400, 4), (800, 4), (1600, 4))
    if os.environ.get("SCALE_SWEEP_POINTS"):
        # explicit "L:width,L:width" list — with SCALE_INDEX_DIR this is a
        # search-only run against the persisted graph
        sweep = tuple(
            (int(p.split(":")[0]), int(p.split(":")[1]))
            for p in os.environ["SCALE_SWEEP_POINTS"].split(",")
        )
    for L, width in sweep:
        t0 = time.time()
        res = search_graph(q, emb, adj, ep, k=params.k, l_search=L,
                           metric=params.metric, staged=staged,
                           expand_width=width)
        res = res.localCheckpoint()
        n_res = res.count()
        t_search = time.time() - t0
        res_arr = (
            res.groupBy("qid")
            .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
            .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
        )
        recall = mean_recall(res_arr, gt, params.k)
        gate_recall = max(gate_recall, recall)
        print(json.dumps({
            "stage": "search", "n": n, "n_queries": nq, "k": params.k,
            "L_pq": L, "expand_width": width, "sec": round(t_search, 1),
            "qps": round(nq / t_search, 1), "rows": n_res,
            "recall_at_k": round(recall, 4),
        }), flush=True)
    assert gate_recall >= 0.9, f"recall gate failed at N={n}: {gate_recall}"
    spark.stop()


if __name__ == "__main__":
    main()
