"""Streaming NEAR-duplicate detection — MinHash-LSH at ingest time.

``stream_dedup_exact`` (windows.py) kills identical redeliveries; this
module kills near-duplicates AS DOCUMENTS ARRIVE, the online twin of
``operators/dedup.minhash_lsh_pairs``: a batch pipeline dedups the
corpus it already has, but a live ingest feed wants each document
admitted or suppressed at arrival, against everything admitted so far.

Shape (same family as the batch path, re-cut for unbounded state):

1. Stateless per-row: MinHash signature over the distinct-token set and
   per-band bucket ids — pure Catalyst expressions (this module's own
   xxhash64 family; the batch operator signs with splitmix64 in numpy),
   zero shuffle, works unchanged on a streaming frame.
2. Stateful per (band, bucket): ``applyInPandasWithState`` keeps the
   bucket's REPRESENTATIVE documents (id + distinct-token-hash set,
   capacity-capped). Each arriving doc exact-Jaccard-verifies against
   the bucket's reps — the same verify-the-candidate discipline as the
   batch path, so LSH collisions cannot create false merges — and either
   matches a rep or registers as one.
3. A doc matching in ANY band is a near-dup of that rep; the per-doc
   assignment is the min matched rep across bands (aggregated after the
   sink).

State is O(buckets x cap x tokens-per-doc), NOT O(pairs): the capacity
cap bounds each bucket regardless of skew (a pathological hot bucket
degrades recall, never memory). Production feeds bound retention with a
processing-time timeout (dedup against a sliding corpus window); the
bounded availableNow rehearsals here keep NoTimeout, which is exact for
a finite backlog.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from mysteryann_spark.functions.text import tokens_col

_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("rep_id", LongType(), False),
        StructField("jaccard", DoubleType(), False),
    ]
)

# reps flattened: ids + CSR(token hash sets) — state structs don't nest
# ragged arrays, so the indptr/flat encoding used by every CSR kernel in
# the package applies here too
_STATE_SCHEMA = StructType(
    [
        StructField("rep_ids", ArrayType(LongType()), True),
        StructField("toks_flat", ArrayType(LongType()), True),
        StructField("indptr", ArrayType(LongType()), True),
    ]
)


def banded_minhash(
    docs: DataFrame, num_perm: int = 32, bands: int = 8, seed: int = 42
) -> DataFrame:
    """(doc_id, band, bucket, toks) — one row per (doc, band), stateless.

    Its own signature/bucket family, a pure Catalyst expression: xxhash64
    min over hashed shingles, variadic xxhash64 over the band's rows as
    the bucket id. The batch ``minhash_lsh_pairs`` uses a numpy splitmix64
    family, so the two place documents in different buckets."""
    if num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    rows = num_perm // bands
    htok = F.array_distinct(F.transform(tokens_col("text"), lambda t: F.xxhash64(t)))
    d = docs.select("doc_id", htok.alias("toks"))
    sig = F.array(
        *[
            F.array_min(F.transform("toks", lambda h: F.xxhash64(F.lit(seed + i), h)))
            for i in range(num_perm)
        ]
    )
    d = d.select("doc_id", "toks", sig.alias("sig"))
    buckets = F.array(
        *[
            F.xxhash64(
                F.lit(b), *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
            )
            for b in range(bands)
        ]
    )
    return d.select(
        "doc_id", "toks", F.posexplode(buckets).alias("band", "bucket")
    ).select("doc_id", "band", "bucket", "toks")


def _make_bucket_fn(threshold: float, cap: int):
    def bucket_fn(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            rep_ids, flat, indptr = state.get
            rep_ids = list(rep_ids)
            sets = [
                frozenset(flat[indptr[j] : indptr[j + 1]])
                for j in range(len(rep_ids))
            ]
        else:
            rep_ids, sets = [], []
        out_doc, out_rep, out_j = [], [], []
        for pdf in pdfs:
            # doc_id order makes the rep choice deterministic per batch
            # (ids are unique, so sort stability is irrelevant); zip over
            # the two columns — iterrows built a pandas Series per row,
            # ~100x the cost of the tuple unpack (guide §4.2)
            order = pdf["doc_id"].to_numpy().argsort()
            for did, row_toks in zip(
                pdf["doc_id"].to_numpy()[order], pdf["toks"].to_numpy()[order]
            ):
                did = int(did)
                toks = frozenset(int(t) for t in row_toks)
                best, best_j = did, 1.0
                for rid, rset in zip(rep_ids, sets):
                    inter = len(toks & rset)
                    union = len(toks) + len(rset) - inter
                    j = inter / union if union else 1.0
                    if j >= threshold and (best == did or j > best_j):
                        best, best_j = rid, j
                if best == did and len(rep_ids) < cap:
                    rep_ids.append(did)
                    sets.append(toks)
                out_doc.append(did)
                out_rep.append(best)
                out_j.append(best_j if best != did else 1.0)
        flat_out: list[int] = []
        indptr_out = [0]
        for s in sets:
            flat_out.extend(sorted(s))
            indptr_out.append(len(flat_out))
        state.update((rep_ids, flat_out, indptr_out))
        yield pd.DataFrame(
            {"doc_id": out_doc, "rep_id": out_rep, "jaccard": out_j}
        )

    return bucket_fn


def stream_dedup_neardup(
    docs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    bucket_cap: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Per-(doc, band) near-dup decisions over a streaming document
    frame: ``(doc_id, rep_id, jaccard)`` where ``rep_id != doc_id`` means
    this band's bucket already holds a verified-similar representative.
    Aggregate ``min(rep_id) per doc_id`` after the sink for the final
    admit/suppress assignment (``assign_reps``)."""
    banded = banded_minhash(docs, num_perm=num_perm, bands=bands, seed=seed)
    return banded.groupBy("band", "bucket").applyInPandasWithState(
        _make_bucket_fn(threshold, bucket_cap),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def assign_reps(band_decisions: DataFrame) -> DataFrame:
    """Collapse per-band decisions to the final per-doc assignment:
    the smallest matched representative, or self if no band matched."""
    # renamed join key: both sides derive from the same sink plan, and a
    # bare self-join on shared attribute ids fails analysis
    matched = (
        band_decisions.where(F.col("rep_id") != F.col("doc_id"))
        .groupBy(F.col("doc_id").alias("m_doc_id"))
        .agg(F.min("rep_id").alias("m_rep_id"), F.max("jaccard").alias("m_jaccard"))
    )
    return (
        band_decisions.select("doc_id")
        .distinct()
        .join(matched, F.col("doc_id") == F.col("m_doc_id"), "left_outer")
        .select(
            "doc_id",
            F.coalesce("m_rep_id", F.col("doc_id")).alias("rep_id"),
            F.round(F.coalesce("m_jaccard", F.lit(1.0)), 6).alias("jaccard"),
            (F.coalesce("m_rep_id", F.col("doc_id")) != F.col("doc_id"))
            .cast("int")
            .alias("is_dup"),
        )
    )


def read_documents_stream(spark, sf_dir: str) -> DataFrame:
    """documents.parquet as an unbounded ingest stream (file source — the
    local stand-in for a document-ingest topic). Reads only the columns
    the dedup path needs; the file source prunes the rest at scan."""
    import os

    from mysteryann_spark.sources.staging import scratch_dir

    stage = scratch_dir("mysteryann-stream-")
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "documents.parquet")),
        os.path.join(stage, "documents.parquet"),
    )
    return (
        spark.readStream.format("parquet")
        .schema("doc_id bigint, text string")
        .load(stage)
    )
