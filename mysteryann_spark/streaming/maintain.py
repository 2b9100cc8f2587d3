"""Streaming incremental index maintenance — the index-freshness loop.

The reference is build-once/static (BuildRoarGraph rebuilds from scratch;
src/index_bipartite.cpp has no insert path), but a production corpus is a
STREAM: new documents are embedded continuously and must become
searchable without a full rebuild. This module closes that loop the
Spark-native way: a Structured Streaming source of new vectors drives
``foreachBatch``, and every micro-batch runs the batch-incremental
insert (operators/projection.insert_into_roargraph — search the current
graph, occlusion-prune pools, reverse-link at the degree cap) against
the accumulated graph state.

Why ``foreachBatch`` and not a stateful operator: the graph is GLOBAL
mutable state (an insert touches arbitrary existing nodes via reverse
edges), which is exactly the shape Spark's keyed state stores cannot
hold. ``foreachBatch`` is the documented escape hatch for transactional
whole-state updates; the loop body stays fully distributed (beam search
+ prune are the same mapInPandas/GEMM kernels as the batch path), and
the driver only coordinates batch boundaries.

Scale story (100 TB): per-batch cost is ∝ |batch| x degree, never
∝ |graph| — untouched adjacency rows pass through by construction, and
the staged vector set is shared across the drain (StagedBase: the base
stages once up front, each batch appends only its delta — no per-batch
full-base write; see sources/staging.py). The
inter-batch state here is an eagerly-checkpointed DataFrame (executor
block storage, lineage cut per batch so plan depth stays O(1) in batch
count); on a real cluster the same loop writes the merged adjacency to a
transactional table per batch (the foreachBatch idiom), giving exactly-
once index versions the serving tier can swap atomically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mysteryann_spark.params import IndexParams

# re-stage the merged adjacency whole (and reset the delta chain) once
# the chain reaches this many paths: bounds tombstone/override overhang
# and the per-path parquet open cost of worker rebuilds from scratch
_ADJ_COMPACT_EVERY = 64

_VEC_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def stage_vector_stream(
    spark: SparkSession,
    new_df: DataFrame,
    stage_dir: str,
    n_batches: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Materialize ``new_df`` as ``n_batches`` single-file parquet drops
    with strictly increasing mtimes, and return a file-source stream that
    replays them one file per micro-batch (the local stand-in for a Kafka
    topic of freshly-embedded vectors).

    Batch membership is ``id % n_batches`` and replay order is batch 0..
    n-1 (FileStreamSource orders by modification time, pinned here via
    ``os.utime``), so the stream is DETERMINISTIC — the registry entry
    and the parity test depend on that.
    """
    os.makedirs(stage_dir, exist_ok=True)
    sel = new_df.select(F.col(id_col).alias("vec_id"), "embedding")
    base_ts = 1_000_000_000
    for b in range(n_batches):
        part_dir = os.path.join(stage_dir, f"_write_{b}")
        target = os.path.join(stage_dir, f"batch_{b}.parquet")
        if os.path.exists(target):
            continue
        (
            sel.where(F.col("vec_id") % n_batches == b)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        part = next(
            os.path.join(part_dir, f)
            for f in os.listdir(part_dir)
            if f.endswith(".parquet")
        )
        os.replace(part, target)
        os.utime(target, (base_ts + b, base_ts + b))
    return (
        spark.readStream.format("parquet")
        .schema(_VEC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(stage_dir)
    )


def stream_insert_roargraph(
    spark: SparkSession,
    base_df: DataFrame,
    adj_df: DataFrame,
    ep: int,
    new_stream: DataFrame,
    params: IndexParams,
    checkpoint_dir: str,
) -> tuple[DataFrame, DataFrame, int, int]:
    """Drain ``new_stream`` (availableNow) through per-micro-batch
    incremental insertion. Returns ``(base, adj, ep, n_batches)`` — the
    final vector set and adjacency with every streamed vector linked in.

    Each batch's work is the full distributed insert pipeline; empty
    batches are skipped. The id-disjointness contract is enforced per
    batch by ``insert_into_roargraph`` itself, so a replayed (duplicate)
    drop fails loudly instead of corrupting the graph — at-least-once
    sources should dedup upstream (streaming/windows.stream_dedup_exact).
    """
    from mysteryann_spark.operators.projection import insert_into_roargraph
    from mysteryann_spark.sources.staging import StagedBase, stage_parquet

    state = {
        "base": base_df.select("vec_id", "embedding").localCheckpoint(eager=True),
        "adj": adj_df.localCheckpoint(eager=True),
        "ep": ep,
        "batches": 0,
    }
    # BOTH index halves stage once and append per-batch deltas: the base
    # vectors via StagedBase, the adjacency via an explicit [full,
    # delta...] path chain handed to insert_into_roargraph as staged_adj
    # (its internal beam search otherwise re-stages the FULL adjacency
    # every micro-batch — the measured O(|graph|) floor of the 10^7
    # insert wall). Worker-side artifacts patch the prior chain prefix
    # incrementally (staging.load_staged_graph), so per-batch staging
    # cost follows the batch on every axis. _ADJ_COMPACT_EVERY bounds
    # chain length (tombstone/override overhang and per-path parquet
    # open cost) by periodically re-staging the merged adjacency whole.
    staged = StagedBase.of(state["base"])
    adj_chain = [stage_parquet(state["adj"])]

    def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select("vec_id", "embedding")
        if batch.isEmpty():
            return
        merged, ep2, delta = insert_into_roargraph(
            state["base"], state["adj"], state["ep"], batch, params,
            staged_base=staged, staged_adj=list(adj_chain),
            return_delta=True,
        )
        # Cut lineage NOW: without this, batch k's plan nests k insert
        # pipelines and analysis time grows superlinearly in batch count.
        state["adj"] = merged.localCheckpoint(eager=True)
        state["base"] = (
            state["base"].unionByName(batch).localCheckpoint(eager=True)
        )
        if len(adj_chain) >= _ADJ_COMPACT_EVERY:
            adj_chain[:] = [stage_parquet(state["adj"])]
            # same cadence for the vector chain: bounds the per-path
            # parquet open cost of cold worker rebuilds
            staged.compact(state["base"])
        else:
            adj_chain.append(stage_parquet(delta))
        state["ep"] = ep2
        state["batches"] += 1

    q = (
        new_stream.writeStream.foreachBatch(_on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state["base"], state["adj"], state["ep"], state["batches"]


_OP_SCHEMA = StructType(
    [
        StructField("op", StringType()),
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def stage_op_stream(
    spark: SparkSession,
    ops_df: DataFrame,
    stage_dir: str,
) -> DataFrame:
    """Materialize an ``(batch, op, vec_id, embedding)`` change feed as
    one single-file parquet drop per distinct ``batch`` value (replayed
    in batch order — same mtime-pinning trick as ``stage_vector_stream``)
    and return the file-source stream over it. The local stand-in for a
    CDC topic of index mutations."""
    os.makedirs(stage_dir, exist_ok=True)
    batches = sorted(
        r["batch"] for r in ops_df.select("batch").distinct().collect()
    )
    base_ts = 1_000_000_000
    for i, b in enumerate(batches):
        part_dir = os.path.join(stage_dir, f"_write_{b}")
        target = os.path.join(stage_dir, f"batch_{b}.parquet")
        if os.path.exists(target):
            continue
        (
            ops_df.where(F.col("batch") == b)
            .select("op", "vec_id", "embedding")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        part = next(
            os.path.join(part_dir, f)
            for f in os.listdir(part_dir)
            if f.endswith(".parquet")
        )
        os.replace(part, target)
        os.utime(target, (base_ts + i, base_ts + i))
    return (
        spark.readStream.format("parquet")
        .schema(_OP_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(stage_dir)
    )


def stream_maintain_roargraph(
    spark: SparkSession,
    base_df: DataFrame,
    adj_df: DataFrame,
    ep: int,
    op_stream: DataFrame,
    params: IndexParams,
    checkpoint_dir: str,
) -> tuple[DataFrame, DataFrame, int, int]:
    """Full streaming index CHURN: drain a change feed of ``insert`` /
    ``delete`` mutations (availableNow) through the batch maintenance
    operators. Within a micro-batch deletes apply FIRST, then inserts —
    so a delete+insert of the same id in one batch is an UPDATE (the
    vector is re-embedded and re-linked), and the insert path's
    id-disjointness contract still holds. Per-batch cost is
    ∝ |batch| x degree on both sides (splice for deletes, search+prune
    for inserts); the graph state is checkpointed per batch exactly as
    ``stream_insert_roargraph`` does, for the same O(1)-plan-depth
    reason. Returns ``(base, adj, ep, n_batches)``."""
    from mysteryann_spark.operators.projection import (
        delete_from_roargraph,
        insert_into_roargraph,
    )
    from mysteryann_spark.sources.staging import StagedBase, stage_parquet

    state = {
        "base": base_df.select("vec_id", "embedding").localCheckpoint(eager=True),
        "adj": adj_df.localCheckpoint(eager=True),
        "ep": ep,
        "batches": 0,
    }
    # one staged vector set across the whole drain: deletes reuse it
    # verbatim (deleted rows are inert supersets), inserts append their
    # delta; a delete-then-reinsert update resolves to the newest row
    # (StagedBase later-path-wins semantics). The adjacency stages the
    # same way: one full artifact up front, per-batch deltas after —
    # delete deltas carry empty-list TOMBSTONES for removed nodes (the
    # splice guarantees nothing links to them, so an empty row is
    # CSR-equivalent to absence); compaction bounds the chain.
    staged = StagedBase.of(state["base"])
    adj_chain = [stage_parquet(state["adj"])]

    def _advance_chain(delta: DataFrame) -> None:
        if len(adj_chain) >= _ADJ_COMPACT_EVERY:
            adj_chain[:] = [stage_parquet(state["adj"])]
            # same cadence for the vector chain: compaction drops the
            # delete-churn overhang (tombstoned ids keep staged rows in
            # the chain form) and re-bounds cold-rebuild open cost
            staged.compact(state["base"])
        else:
            adj_chain.append(stage_parquet(delta))

    def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
        dels = batch_df.where(F.col("op") == "delete").select("vec_id")
        ins = batch_df.where(F.col("op") == "insert").select(
            "vec_id", "embedding"
        )
        changed = False
        if not dels.isEmpty():
            surv, adj2, ep2, ddelta = delete_from_roargraph(
                state["base"], state["adj"], state["ep"], dels, params,
                staged_base=staged, return_delta=True,
            )
            state["base"] = surv.localCheckpoint(eager=True)
            state["adj"] = adj2.localCheckpoint(eager=True)
            state["ep"] = ep2
            _advance_chain(ddelta)
            changed = True
        if not ins.isEmpty():
            merged, ep2, idelta = insert_into_roargraph(
                state["base"], state["adj"], state["ep"], ins, params,
                staged_base=staged, staged_adj=list(adj_chain),
                return_delta=True,
            )
            state["adj"] = merged.localCheckpoint(eager=True)
            _advance_chain(idelta)
            state["base"] = (
                state["base"].unionByName(ins).localCheckpoint(eager=True)
            )
            state["ep"] = ep2
            changed = True
        if changed:
            state["batches"] += 1

    q = (
        op_stream.writeStream.foreachBatch(_on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state["base"], state["adj"], state["ep"], state["batches"]
