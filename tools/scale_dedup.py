"""MinHash-LSH dedup rehearsal at 10^6 documents with PLANTED near-dups.

The third pillar (after the graph-ANN and IVF-PQ rehearsals): run the
production dedup path — identical-set collapse, banded LSH, staged-Arrow
exact verification, connected-components grouping — at 10^6 docs, and
grade it against ground truth the synthesizer planted:

- ~90% unique docs: seeded word salad over a 50k-word vocabulary.
- ~10% near-dups: copy an earlier doc, mutate a fraction of its tokens.
  The (dup, source) pair ids and the mutation rate are known, so planted-
  pair recall is measurable exactly (for planted pairs whose TRUE token-
  set Jaccard clears the threshold), and every found cross pair can be
  checked against the plant map for precision.

Run:   python tools/scale_dedup.py [N] [DUP_FRAC] [MUTATE_FRAC] [THRESHOLD]
       (defaults 1_000_000, 0.10, 0.15, 0.7; one JSON line per stage)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

VOCAB = 50_000
DOC_LEN = 60


def synth_docs(spark, n: int, dup_frac: float, mutate_frac: float, parts: int = 64):
    """Deterministic distributed corpus with planted near-dups. A doc id
    is a dup iff id % 10 < dup_frac*10; its source is a pseudo-random
    earlier unique id. Every token list is regenerable from the id alone,
    so ground truth needs no shuffle of the corpus itself."""
    import numpy as np
    import pandas as pd

    dup_mod = int(round(dup_frac * 10))

    def tokens_for(did: int) -> np.ndarray:
        rng = np.random.default_rng(900_001 + did)
        return rng.integers(0, VOCAB, size=DOC_LEN)

    def source_of(did: int, n: int) -> int:
        # a deterministic earlier unique id (never itself a dup)
        cand = (did * 2_654_435_761) % n
        while cand % 10 < dup_mod or cand == did:
            cand = (cand + 7) % n
        return cand

    def gen(batches):
        for pdf in batches:
            out_id, out_txt, out_src = [], [], []
            for did in pdf["id"].to_numpy():
                did = int(did)
                if did % 10 < dup_mod:
                    src = source_of(did, n)
                    toks = tokens_for(src).copy()
                    mrng = np.random.default_rng(77 + did)
                    n_mut = int(round(mutate_frac * DOC_LEN))
                    pos = mrng.choice(DOC_LEN, size=n_mut, replace=False)
                    toks[pos] = mrng.integers(0, VOCAB, size=n_mut)
                    out_src.append(src)
                else:
                    toks = tokens_for(did)
                    out_src.append(-1)
                out_id.append(did)
                out_txt.append(" ".join(f"w{t}" for t in toks))
            yield pd.DataFrame({"doc_id": out_id, "text": out_txt, "src": out_src})

    return (
        spark.range(0, n, 1, parts)
        .mapInPandas(gen, "doc_id bigint, text string, src bigint")
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    dup_frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.10
    mutate_frac = float(sys.argv[3]) if len(sys.argv) > 3 else 0.15
    threshold = float(sys.argv[4]) if len(sys.argv) > 4 else 0.7

    from pyspark.sql import functions as F

    from mysteryann_spark.operators.dedup import connected_components, minhash_lsh_pairs
    from mysteryann_spark.session import get_spark

    # Size shuffle partitions to DATA volume, not core count: the banding
    # shuffle carries n x bands triple rows, and at 10^7 docs the default
    # ~cores partitioning puts ~10M-row sorts in each of 32 concurrent
    # tasks — the first 10M attempt OOM'd in UnsafeExternalSorter's
    # pointer-array growth (SCALE.md). ~200k docs per shuffle partition
    # keeps each sort buffer spill-friendly at any N; the same rule a real
    # cluster applies per executor.
    import os as _os

    shuffle_parts = int(
        _os.environ.get("SCALE_SHUFFLE_PARTITIONS", max(32, n // 200_000))
    )
    spark = get_spark(
        app_name=f"scale-dedup-{n}", shuffle_partitions=shuffle_parts
    )

    docs = synth_docs(spark, n, dup_frac, mutate_frac).cache()
    t0 = time.time()
    n_docs = docs.count()
    print(json.dumps({"stage": "synth", "n": n_docs, "sec": round(time.time() - t0, 1)}),
          flush=True)

    t0 = time.time()
    pairs = minhash_lsh_pairs(
        docs.select("doc_id", "text"),
        num_perm=128, bands=32, threshold=threshold,
    ).localCheckpoint()
    n_pairs = pairs.count()
    t_pairs = time.time() - t0
    print(json.dumps({
        "stage": "lsh_pairs", "n": n, "sec": round(t_pairs, 1),
        "pairs_found": n_pairs,
        "docs_per_sec": round(n / t_pairs),
    }), flush=True)

    # planted ground truth: (dup, src) pairs whose TRUE jaccard >= threshold
    planted = docs.where(F.col("src") >= 0).select(
        F.least("doc_id", "src").alias("id_a"),
        F.greatest("doc_id", "src").alias("id_b"),
    )
    truth = (
        planted.join(
            pairs.select("id_a", "id_b", "jaccard"), ["id_a", "id_b"], "left_outer"
        )
    )
    n_planted = planted.count()
    n_hit = truth.where(F.col("jaccard").isNotNull()).count()
    # exact jaccard of MISSED planted pairs, recomputed directly — a miss
    # only counts against recall if its true jaccard clears the threshold
    from mysteryann_spark.functions.text import tokens_col

    tok = docs.select(
        "doc_id", F.array_distinct(tokens_col("text")).alias("toks")
    )
    missed = (
        truth.where(F.col("jaccard").isNull())
        .join(tok.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta")), "id_a")
        .join(tok.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb")), "id_b")
        .select(
            (
                F.size(F.array_intersect("ta", "tb"))
                / F.size(F.array_union("ta", "tb"))
            ).alias("true_j")
        )
    )
    n_missed_above = missed.where(F.col("true_j") >= threshold).count()
    n_eligible = n_hit + n_missed_above
    recall = n_hit / n_eligible if n_eligible else 1.0

    # precision: found pairs that are planted, transitively planted
    # (same source), or identical token sets (jaccard == 1.0)
    plant_map = docs.where(F.col("src") >= 0).select("doc_id", "src")
    explained = (
        pairs.join(planted, ["id_a", "id_b"], "left_semi").count()
        + pairs.where(F.col("jaccard") >= 0.999999).join(
            planted, ["id_a", "id_b"], "left_anti"
        ).count()
        + pairs.where(F.col("jaccard") < 0.999999)
        .join(planted, ["id_a", "id_b"], "left_anti")
        .join(plant_map.select(F.col("doc_id").alias("id_a"), F.col("src").alias("sa")), "id_a")
        .join(plant_map.select(F.col("doc_id").alias("id_b"), F.col("src").alias("sb")), "id_b")
        .where(F.col("sa") == F.col("sb"))
        .count()
    )
    print(json.dumps({
        "stage": "grade", "n_planted": n_planted,
        "planted_found": n_hit, "missed_above_threshold": n_missed_above,
        "planted_recall": round(recall, 4),
        "pairs_explained_frac": round(explained / n_pairs, 4) if n_pairs else 1.0,
    }), flush=True)

    t0 = time.time()
    comps = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        docs.select(F.col("doc_id").alias("id")),
    )
    n_groups = comps.agg(F.countDistinct("comp")).collect()[0][0]
    print(json.dumps({
        "stage": "components", "sec": round(time.time() - t0, 1),
        "n_groups": n_groups,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
