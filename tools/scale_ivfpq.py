"""IVF-PQ scale rehearsal: the graph-free ANN path at 10^6 vectors.

The graph rehearsal (scale_rehearsal.py) stresses the O(N^2)-build
RoarGraph pipeline; this one rehearses the LINEAR-cost similarity stack —
bounded-sample k-means + one assignment/encode pass + persisted
cid-partitioned lists — at 10x that N, which is exactly the regime where
a pipeline reaches for IVF-PQ instead of a graph. Stages:

  synth -> build_ivfpq_index -> save_ivfpq (partitioned parquet) ->
  load_ivfpq -> search (ADC + exact refine) -> recall vs exact GT

Run:   python tools/scale_ivfpq.py [N] [N_QUERY_SAMPLE] [N_CENTROIDS] [N_PROBE]
       (defaults 1_000_000, 1_000, 1024, 32; one JSON line per stage —
       paste into SCALE.md)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scale_rehearsal import synth_embeddings  # noqa: E402  (same corpus family)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000
    n_centroids = int(sys.argv[3]) if len(sys.argv) > 3 else 1024
    n_probe = int(sys.argv[4]) if len(sys.argv) > 4 else 32
    m = int(sys.argv[5]) if len(sys.argv) > 5 else 8
    refine = int(sys.argv[6]) if len(sys.argv) > 6 else 20

    from pyspark.sql import functions as F

    from mysteryann_spark.operators.evaluate import mean_recall
    from mysteryann_spark.operators.knn import knn_join_arrays
    from mysteryann_spark.operators.similarity import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from mysteryann_spark.session import get_spark, spread
    from mysteryann_spark.sources.ann_index_io import load_ivfpq, save_ivfpq

    spark = get_spark(app_name=f"scale-ivfpq-{n}")

    # above ~2x10^7 rows the cached array rows exceed the box (Spark's
    # deserialized row form is several x the 4-byte-float payload at
    # 10^8 x 64-d); the synth is deterministic and recomputes in ~30 s a
    # pass, so big runs stream it instead of caching
    parts = max(64, n // 500_000)
    emb = synth_embeddings(spark, n, parts=parts)
    if n <= 20_000_000:
        emb = emb.cache()
    t0 = time.time()
    emb.count()
    print(json.dumps({"stage": "synth", "n": n, "parts": parts,
                      "sec": round(time.time() - t0, 1)}),
          flush=True)

    path = os.environ.get("SCALE_IVFPQ_DIR", "/tmp/scale_ivfpq") + f"/n{n}_m{m}"
    # SCALE_IVFPQ_VECTORS=1: persist the full-precision base next to the
    # lists (float32, cid-partitioned) so the exact refine reads ONLY the
    # probed lists' vector partitions. Disk note: vectors are n*dim*4 B
    # (25.6 GB at 10^8) and the cid repartition shuffles the same again —
    # on this box that fits at 10^7, not 10^8 (the 10^8 A/B reranks
    # against the streamed synth instead, scanned in place by the
    # broadcast refine join).
    want_vectors = os.environ.get("SCALE_IVFPQ_VECTORS") == "1"
    if os.environ.get("SCALE_IVFPQ_SEARCH_ONLY"):
        # search-only re-measurement against a previously persisted index
        # (the r7 QPS A/B protocol): skip train/encode, go straight to GT
        # + loaded-index search. Two reps below make warm-vs-cold visible.
        print(json.dumps({"stage": "search_only", "path": path}), flush=True)
        if want_vectors and not os.path.isdir(f"{path}/vectors"):
            from mysteryann_spark.sources.ann_index_io import (
                load_ivfpq as _load,
                save_ivfpq_vectors,
            )

            t0 = time.time()
            save_ivfpq_vectors(_load(spark, path), path, emb, vec_dtype="float")
            print(json.dumps({
                "stage": "vectors_backfill", "n": n,
                "sec": round(time.time() - t0, 1),
            }), flush=True)
    else:
        t0 = time.time()
        # SCALE_IVFPQ_PQ_TRAIN decouples the PQ codebook sample from the
        # coarse 64-pts/centroid budget (the PQ Lloyd over the full
        # coarse sample was a ~1.5 h driver wall at 163,840 lists)
        pq_train = os.environ.get("SCALE_IVFPQ_PQ_TRAIN")
        index = build_ivfpq_index(
            emb, n_centroids=n_centroids, m=m, n_codes=256,
            train_sample=64 * n_centroids,
            pq_train_sample=int(pq_train) if pq_train else None,
        )
        save_ivfpq(
            index, path,
            base_df=emb if want_vectors else None, vec_dtype="float",
        )
        t_build = time.time() - t0
        n_lists = spark.read.parquet(f"{path}/lists").count()
        print(json.dumps({
            "stage": "build_save", "n": n, "sec": round(t_build, 1),
            "rows_persisted": n_lists, "n_centroids": n_centroids,
            "m": m, "n_codes": 256,
            "code_bytes_per_vec": m,
        }), flush=True)

    q = spread(
        emb.where(F.col("vec_id") < nq).select(F.col("vec_id").alias("qid"), "embedding")
    ).localCheckpoint()
    # Exact GT is a pure function of (synth geometry, n, nq) and costs
    # ~10 min at 10^8 — persist it next to the index so the warm/cold and
    # matched-budget search-only reruns pay it once. The synth center
    # count is part of the key (the densifying-vs-fixed-density geometries
    # share an index path otherwise).
    from scale_rehearsal import N_CENTERS  # noqa: E402

    gt_path = f"{path}/gt_nq{nq}_c{N_CENTERS}"
    t0 = time.time()
    # Cache hit requires the _SUCCESS marker, not just the dir: Spark
    # creates the output dir at job start, so a run killed mid-write (the
    # crash scenario this cache exists for) leaves a partial dir that a
    # bare isdir() would treat as valid GT. overwrite mode replaces such
    # a stale partial dir instead of failing on it.
    gt_cached = os.path.exists(f"{gt_path}/_SUCCESS")
    if not gt_cached:
        knn_join_arrays(q, emb, 10, "cosine", exclude_self=True) \
            .write.mode("overwrite").parquet(gt_path)
    gt = spark.read.parquet(gt_path).localCheckpoint()
    gt.count()
    print(json.dumps({
        "stage": "exact_gt", "n": n, "n_queries": nq, "cached": gt_cached,
        "sec": round(time.time() - t0, 1),
    }), flush=True)

    loaded = load_ivfpq(spark, path)
    # refine source: the index's own persisted cid-partitioned vectors
    # when present (partition-pruned scan), else the streamed synth
    # (scanned in place — the refine join broadcasts the survivors side)
    refine_base = None if "vectors" in loaded else emb
    print(json.dumps({
        "stage": "refine_source",
        "source": "persisted_vectors" if refine_base is None else "streamed_synth",
    }), flush=True)
    reps = (1, 2) if os.environ.get("SCALE_IVFPQ_SEARCH_ONLY") else (1,)
    for rep in reps:
      for probes in (n_probe // 2, n_probe):
        t0 = time.time()
        res = search_ivfpq_index(
            q, loaded, 10, n_probe=probes, refine=refine, base_df=refine_base
        ).localCheckpoint()
        n_res = res.count()
        t_search = time.time() - t0
        res_arr = (
            res.groupBy("qid")
            .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
            .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
        )
        recall = mean_recall(res_arr, gt, 10)
        print(json.dumps({
            "stage": "search_loaded", "n": n, "n_queries": nq, "rep": rep,
            "n_probe": probes, "sec": round(t_search, 1),
            "qps": round(nq / t_search, 1), "rows": n_res,
            "recall_at_10": round(recall, 4),
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
