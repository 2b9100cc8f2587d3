"""Index-maintenance rehearsal at the flagship order: measure the
per-batch wall of `insert_into_roargraph` / `delete_from_roargraph`
against the SAVED 10^7 graph (tools/scale_rehearsal.py with
SCALE_INDEX_DIR persists it), validating the "per-batch cost ∝
|batch| × degree, not |graph|" claim at the reference's own N
(run_roargraph_test.sh:4-10) instead of only at the unit-test scale.

Protocol:
  1. Re-synthesize the base deterministically (same seeded mixture the
     index was built over), load the persisted adjacency.
  2. Stage the base once (StagedBase) — the amortized cost a maintenance
     loop pays once at startup, reported separately.
  3. K insert batches of B fresh vectors (ids ≥ N, same mixture), each
     timed individually: batch k's wall is the steady-state per-batch
     cost (batch 1 additionally warms worker matrices).
  4. One delete batch (the first insert batch's ids), timed.
  5. Invariants after every step: adjacency row count, degree cap,
     inserted ids present / deleted ids absent.

Per-batch cost is ∝ |batch| on EVERY axis now: the beam search + both
prunes look vectors up from the staged set (batch-sized deltas appended
per step), the adjacency stages as a [full, delta...] chain handed to
insert as ``staged_adj`` (batch k writes only its changed rows), and
the worker/host index artifacts PATCH the prior chain prefix instead of
rebuilding from all parquet (staging.load_staged_graph /
load_staged_matrix — the per-batch publish is one sequential
O(n)-bytes npy write, seconds, not the minutes-long full parquet decode
that was the measured 557 s floor of r6). Publish-time GC keeps one
prior generation per chain on scratch (~2×n×dim×4 B per step at fp32)
plus an LRU cap of SPARK_GRAFT_SHARED_MAX_GENERATIONS.

Run:  python tools/scale_maintain.py [N] [BATCH] [N_BATCHES]
      (defaults 10_000_000, 10_000, 3; one JSON line per stage —
      paste into SCALE.md. Needs the saved index: run
      tools/scale_rehearsal.py with SCALE_INDEX_DIR first.)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

DIM = 64


def synth_range(spark, start: int, end: int, n_centers: int, seed: int = 7,
                parts: int = 8):
    """The rehearsal's deterministic mixture over an EXPLICIT id range —
    per-vid RNG, so ids ≥ N draw fresh vectors from the same geometry
    (tools/scale_rehearsal.synth_embeddings pins the [0, N) base)."""
    import numpy as np
    import pandas as pd

    center_scale = 2.0

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs = []
            for vid in ids:
                rng = np.random.default_rng(seed * 1_000_003 + int(vid))
                center_rng = np.random.default_rng(seed + int(vid) % n_centers)
                center = center_rng.standard_normal(DIM) * center_scale
                vecs.append((center + rng.standard_normal(DIM)).astype(np.float32))
            yield pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})

    return spark.range(start, end, 1, parts).mapInPandas(
        gen, "vec_id bigint, embedding array<float>"
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_centers = int(os.environ.get("SCALE_N_CENTERS", 256))

    from pyspark.sql import functions as F

    from mysteryann_spark.operators.projection import (
        delete_from_roargraph,
        insert_into_roargraph,
    )
    from mysteryann_spark.params import IndexParams
    from mysteryann_spark.session import get_spark
    from mysteryann_spark.sources.graph_io import load_index
    from mysteryann_spark.sources.staging import StagedBase

    shuffle_parts = os.environ.get("SCALE_SHUFFLE_PARTITIONS")
    spark = get_spark(
        app_name=f"scale-maintain-{n}",
        shuffle_partitions=int(shuffle_parts) if shuffle_parts else None,
    )

    params = IndexParams(
        M_sq=int(os.environ.get("SCALE_M_SQ", 32)),
        M_pjbp=int(os.environ.get("SCALE_M_PJBP", 16)),
        L_pjpq=int(os.environ.get("SCALE_L_PJPQ", 64)),
        k=10, L_pq=100, metric="l2",
    )
    idx_dir = os.environ["SCALE_INDEX_DIR"]
    idx_path = (
        f"{idx_dir}/n{n}_t{n}_M{params.M_sq}-{params.M_pjbp}-{params.L_pjpq}"
        f"_w{int(os.environ.get('SCALE_BUILD_WIDTH', 4))}_p0ivf"
        + ("" if n_centers == 256 else f"_c{n_centers}")
    )

    base = synth_range(spark, 0, n, n_centers, parts=64).cache()
    base.count()
    adj, meta = load_index(spark, idx_path)
    adj = adj.localCheckpoint()
    ep = int(meta["entry_point"])
    # connectivity bridges may legitimately exceed PROJECTION_SLACK*M
    # (reachability beats the cap — projection.py); maintenance must not
    # make the max any worse than the loaded graph's.
    mx0 = adj.select(F.max(F.size("nbrs")).alias("mx")).collect()[0]["mx"]
    deg_cap = max(params.degree_cap, int(mx0))
    print(json.dumps({"stage": "load", "n": n, "nodes": adj.count(),
                      "ep": ep, "max_degree": int(mx0)}), flush=True)

    t0 = time.time()
    staged = StagedBase.of(base)
    print(json.dumps({
        "stage": "stage_base", "sec": round(time.time() - t0, 1),
        "note": "paid once per maintenance loop, amortized across batches",
    }), flush=True)
    from mysteryann_spark.sources.staging import stage_parquet

    t0 = time.time()
    adj_chain = [stage_parquet(adj)]
    print(json.dumps({
        "stage": "stage_adj", "sec": round(time.time() - t0, 1),
        "note": "paid once per maintenance loop; batches append deltas",
    }), flush=True)

    cur_base, cur_adj, cur_ep = base, adj, ep
    first_batch_df = None
    for k in range(n_batches):
        start_id = n + k * batch
        new_df = synth_range(spark, start_id, start_id + batch,
                             n_centers).localCheckpoint()
        if first_batch_df is None:
            first_batch_df = new_df
        t0 = time.time()
        cur_adj, cur_ep, delta = insert_into_roargraph(
            cur_base, cur_adj, cur_ep, new_df, params, staged_base=staged,
            staged_adj=list(adj_chain), return_delta=True)
        cur_adj = cur_adj.localCheckpoint()
        adj_chain.append(stage_parquet(delta))
        rows = cur_adj.count()
        wall = time.time() - t0
        degs = cur_adj.select(F.size("nbrs").alias("d")).agg(
            F.max("d").alias("mx")).collect()[0]
        assert rows == n + (k + 1) * batch, (rows, n, k, batch)
        assert degs["mx"] <= deg_cap, (degs["mx"], deg_cap)
        cur_base = cur_base.unionByName(new_df)
        print(json.dumps({
            "stage": "insert", "batch_no": k + 1, "batch": batch,
            "sec": round(wall, 1), "rows_after": rows,
            "max_degree": int(degs["mx"]),
        }), flush=True)

    t0 = time.time()
    cur_base, cur_adj, cur_ep = delete_from_roargraph(
        cur_base, cur_adj, cur_ep, first_batch_df, params,
        staged_base=staged)
    cur_adj = cur_adj.localCheckpoint()
    rows = cur_adj.count()
    wall = time.time() - t0
    gone = cur_adj.join(
        first_batch_df.select(F.col("vec_id").alias("node")), "node",
        "left_semi").count()
    assert gone == 0, gone
    print(json.dumps({
        "stage": "delete", "batch": batch, "sec": round(wall, 1),
        "rows_after": rows,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
