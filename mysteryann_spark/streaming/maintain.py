"""Streaming incremental index maintenance — the index-freshness loop.

The reference is build-once/static (BuildRoarGraph rebuilds from scratch;
src/index_bipartite.cpp has no insert path), but a production corpus is a
STREAM: new documents are embedded continuously and must become
searchable without a full rebuild, and deleted ones must stop being
returned. This module closes that loop the Spark-native way: a
Structured Streaming change feed of ``insert`` / ``delete`` mutations
(``stage_op_stream``) drives ``foreachBatch``, and every micro-batch
runs the batch maintenance operators against the accumulated graph
state — deletes first (operators/projection.delete_from_roargraph,
splicing the removed nodes out), then inserts
(operators/projection.insert_into_roargraph — search the current graph,
occlusion-prune pools, reverse-link at the degree cap). There is one
loop, ``stream_maintain_roargraph``: an insert-only feed is a change
feed whose rows all say ``insert``.

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
    one single-file parquet drop per distinct ``batch`` value and return
    a file-source stream that replays them one drop per micro-batch, in
    batch order (FileStreamSource orders by modification time, pinned
    here via ``os.utime``), so the stream is DETERMINISTIC — the
    registry entries and the parity tests depend on that. The local
    stand-in for a CDC topic of index mutations; an insert-only feed is
    one whose rows all say ``insert``."""
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
    id-disjointness contract still holds: it is enforced per batch by
    ``insert_into_roargraph`` itself, so a replayed (duplicate) insert
    fails loudly instead of corrupting the graph — at-least-once sources
    should dedup upstream (streaming/windows.stream_dedup_exact). Empty
    batches are skipped. Per-batch cost is ∝ |batch| x degree on both
    sides (splice for deletes, search+prune for inserts). The graph
    state is checkpointed per batch: without the lineage cut, batch k's
    plan nests k maintenance pipelines and analysis time grows
    superlinearly in batch count. Returns ``(base, adj, ep,
    n_batches)``."""
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
            # the base must hold the batch before the chain advances: a
            # compaction re-stages the vector chain from it
            state["base"] = (
                state["base"].unionByName(ins).localCheckpoint(eager=True)
            )
            _advance_chain(idelta)
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
