"""Distributed frontier-join search rehearsal — the beyond-executor-memory
path (operators/search_distributed.py) measured at rehearsal scale.

The broadcast path replays the reference's whole-index-resident loop per
worker; `search_graph_distributed` is the 100 TB fallback when the index
does NOT fit: graph + vectors stay partitioned, one best-first step for
every query at once becomes a round of joins. Bit-parity with the
broadcast path is test-gated at sf scale (tests/test_graph.py); this
tool (a) spot-checks that parity at 10^6, and (b) measures the cost
shape at 10^6-10^7 — driver-synchronized rounds are the wall, and
expand_width is the lever that cuts them ~width-fold (r7 VERDICT "Next
round" #6).

Run:
  SCALE_N_CENTERS=25600 SCALE_INDEX_DIR=/tmp/scale_idx \
  python tools/scale_distributed_search.py N NQ [POINTS] [BUILD_WIDTH] [PHASE0]

POINTS is "L:width,..." (default "100:1,100:4,100:8"); the saved-index
naming matches tools/scale_rehearsal.py so the flagship graphs are
reused. One JSON line per stage — paste into SCALE.md. Set
SCALE_DIST_PARITY=1 to also run the broadcast path per point and compare
result row sets exactly (width must match for bit-parity; wider widths
agree on recall, not rows).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scale_rehearsal import DIM, N_CENTERS, synth_embeddings  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000
    points = [
        (int(p.split(":")[0]), int(p.split(":")[1]))
        for p in (sys.argv[3] if len(sys.argv) > 3 else "100:1,100:4,100:8").split(",")
    ]
    build_width = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    phase0 = sys.argv[5] if len(sys.argv) > 5 else "ivf"

    from pyspark.sql import functions as F

    from mysteryann_spark.operators.evaluate import mean_recall
    from mysteryann_spark.operators.knn import knn_join_arrays
    from mysteryann_spark.operators.projection import build_roargraph_from_table
    from mysteryann_spark.operators.search import search_graph, stage_graph_index
    from mysteryann_spark.operators.search_distributed import (
        search_graph_distributed,
    )
    from mysteryann_spark.params import IndexParams
    from mysteryann_spark.session import get_spark, spread
    from mysteryann_spark.sources.graph_io import load_index, save_index

    spark = get_spark(app_name=f"scale-dist-search-{n}")
    params = IndexParams(M_sq=32, M_pjbp=16, L_pjpq=64, k=10, L_pq=100, metric="l2")

    emb = synth_embeddings(spark, n).cache()
    t0 = time.time()
    emb.count()
    print(json.dumps({"stage": "synth", "n": n, "sec": round(time.time() - t0, 1)}),
          flush=True)

    idx_dir = os.environ.get("SCALE_INDEX_DIR")
    idx_path = (
        f"{idx_dir}/n{n}_t{n}_M{params.M_sq}-{params.M_pjbp}-{params.L_pjpq}"
        f"_w{build_width}"
        + ("" if phase0 == "exact" else f"_p0{phase0}")
        + ("" if N_CENTERS == 256 else f"_c{N_CENTERS}")
        if idx_dir
        else None
    )
    max_degree = None
    if idx_path and os.path.isdir(f"{idx_path}/adjacency"):
        adj, meta = load_index(spark, idx_path)
        adj = adj.localCheckpoint()
        ep = int(meta["entry_point"])
        # pre-r11 indexes lack the recorded bound -> measured fallback
        max_degree = meta.get("max_degree")
        print(json.dumps({"stage": "load_index", "path": idx_path,
                          "nodes": adj.count(),
                          "max_degree": max_degree}), flush=True)
    else:
        t0 = time.time()
        adj, ep = build_roargraph_from_table(
            spark, emb, params, ensure_reachable=True,
            expand_width=build_width, phase0=phase0,
        )
        adj = adj.localCheckpoint()
        print(json.dumps({"stage": "build", "n": n, "nodes": adj.count(),
                          "sec": round(time.time() - t0, 1)}), flush=True)
        if idx_path:
            save_index(adj, idx_path, entry_point=ep, dim=DIM, params=params)
            print(json.dumps({"stage": "save_index", "path": idx_path}), flush=True)

    q = spread(
        emb.where(F.col("vec_id") < nq).select(F.col("vec_id").alias("qid"), "embedding")
    ).localCheckpoint()
    t0 = time.time()
    gt = knn_join_arrays(q, emb, params.k, params.metric).localCheckpoint()
    gt.count()
    print(json.dumps({"stage": "exact_gt", "n_queries": nq,
                      "sec": round(time.time() - t0, 1)}), flush=True)

    # SCALE_DIST_SKIP_BROADCAST=1: frontier-path-only runs (e.g. the
    # per-round sync-term profile) skip the broadcast A/B leg AND its
    # multi-GB shared-artifact staging.
    skip_broadcast = os.environ.get("SCALE_DIST_SKIP_BROADCAST") == "1"
    staged = None
    if not skip_broadcast:
        staged = stage_graph_index(emb.select("vec_id", "embedding"), adj)
    parity = os.environ.get("SCALE_DIST_PARITY") == "1"

    def to_arr(res):
        return (
            res.groupBy("qid")
            .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
            .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
        )

    for L, width in points:
        t0 = time.time()
        dres = search_graph_distributed(
            q, emb, adj, ep, k=params.k, l_search=L, metric=params.metric,
            expand_width=width, max_rounds=4 * L, max_degree=max_degree,
        ).localCheckpoint()
        n_rows = dres.count()
        wall = time.time() - t0
        stats = dres.agg(
            F.max("hops").alias("max_hops"), F.avg("hops").alias("avg_hops"),
            F.avg("cmps").alias("avg_cmps"),
        ).collect()[0]
        recall = mean_recall(to_arr(dres), gt, params.k)
        out = {
            "stage": "dist_search", "n": n, "n_queries": nq, "L_pq": L,
            "expand_width": width, "sec": round(wall, 1),
            "qps": round(nq / wall, 2), "rows": n_rows,
            # driver-synchronized rounds ~= the deepest query's expansion
            # count spread over width slots per round (hops counts
            # expansions, a live query expands up to `width` each round)
            "rounds": -(-int(stats["max_hops"]) // width),
            "avg_hops": round(float(stats["avg_hops"]), 1),
            "avg_cmps": round(float(stats["avg_cmps"]), 1),
            "recall_at_k": round(recall, 4),
        }

        if not skip_broadcast:
            t0 = time.time()
            bres = search_graph(
                q, emb, adj, ep, k=params.k, l_search=L, metric=params.metric,
                staged=staged, expand_width=width,
            ).localCheckpoint()
            bres.count()
            out["broadcast_sec"] = round(time.time() - t0, 1)
            out["broadcast_qps"] = round(nq / (time.time() - t0), 2)
            if parity:
                d_set = dres.select("qid", "nn_id", "rank")
                b_set = bres.select("qid", "nn_id", "rank")
                out["parity_diff_rows"] = (
                    d_set.exceptAll(b_set).count() + b_set.exceptAll(d_set).count()
                )
        print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
