"""Distributed frontier-join beam search — the scale path for SURVEY.md
§2.10 Q1 / §3.2 when the index does NOT fit in executor memory.

The broadcast path (operators/search.py) replays the reference's
``SearchRoarGraph`` loop (src/index_bipartite.cpp:2311-2420) per executor;
that requires the whole adjacency + base matrix on every executor — fine
for the single-node reference's regime, wrong at 100 TB. This module is
the Pregel-style rendering: the graph and the vectors stay partitioned,
and one best-first *step for every query at once* becomes a round of
joins:

    pool      = per-query top-L of all scored candidates (bounded state)
    frontier  = best unexpanded pool entry per query          (window)
    expand    = frontier ⋈ adjacency  → new candidate ids     (shuffle on node)
    score     = candidates ⋈ base vectors ⋈ query vectors     (shuffle on id/qid)
    seen     ∪= scored candidate ids                          (anti-join dedup)

Equivalence: the sequential loop expands, per query, the closest
unexpanded node of the bounded (dist, id)-ordered queue, and its final
queue is exactly the top-L of every node it ever scored. One frontier
round here expands precisely that node for every live query, so the
pool — and therefore the final top-L emit — is IDENTICAL to the
broadcast path (tested in tests/test_graph.py). Hops = rounds a query
stayed live; cmps = candidates scored. Both derive from bounded
per-round bookkeeping (the frontier and scored-id frames) afterwards
instead of being counted inline.

Scale notes (r12 re-cut — the round state is BOUNDED now):
- The old rendering kept ONE growing ``visited`` table and re-derived the
  pool from it every round, so each round windowed, anti-joined, mark-
  joined and re-checkpointed the FULL history: 3-4 O(cmps_total) passes
  per round (measured at 10^6/200q: the window + anti-join legs were 88%
  of a 4.3 s round). Now the recurring state is the top-L pool itself —
  O(n_q x l_search) rows regardless of round count — plus an append-only
  archive of per-round scored-id frames (each one already materialized,
  never rewritten). Per round the only O(history) work left is the
  dedup anti-join's shuffle of the seen-id union; windows, mark-joins
  and checkpoint WRITES are all bounded by the round's candidate volume.
- The adjacency join shuffles (qid, node) pairs against the edge table —
  both sides hash-partitioned on the node id; no executor ever holds the
  full graph.
- Per-round cost is dominated by small shuffles; total rounds = max hops
  (~15-40 at reference parameters). This trades latency for unbounded
  index size — exactly Spark's join-vs-broadcast tradeoff, so callers
  pick: broadcast path when the index fits (the common case, and what
  the reference assumes always), frontier path beyond it.
- Plan STATISTICS still double per round between resets (localCheckpoint
  cuts lineage but KEEPS the child plan's estimated sizeInBytes, and the
  pool's self-referencing round update roughly doubles those BigInteger
  bits per round — past ~25-60 un-reset rounds Spark's estimator throws
  ``ArithmeticException: BigInteger would overflow supported range``).
  Every ``_STATS_RESET_EVERY`` rounds the pool takes a parquet round-trip
  (restarting stats from the real file size) and the seen-id frames are
  compacted into one parquet snapshot (also bounding the anti-join's
  union fan-in). Values are unchanged, so broadcast-path bit-parity
  holds. Unlike the pre-r12 form, the returned plan never reads those
  snapshots — counters and pool are re-checkpointed at exit — so the
  scratch dir is ALWAYS removed before returning.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mysteryann_spark.functions.vector import distance_col
from mysteryann_spark.session import broadcast_if_under
from mysteryann_spark.sources.staging import scratch_dir

# parquet stats-reset cadence (see module docstring): bits of estimated
# sizeInBytes roughly double per round between resets, so 16 rounds from
# a fresh file-size baseline stays ~6 orders below BigInteger's 2^31-bit
# ceiling while costing one small state write per 16 driver rounds
_STATS_RESET_EVERY = 16


def _union_all(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


# NOTE (r13 adjudication — the r12-verdict "bloom pre-pass" item): a
# worker-staged EXACT membership probe of the compacted seen snapshot
# (sorted packed-key table per worker per compaction epoch, mapInPandas
# filter before the dedup, residual-only anti-join) was implemented and
# measured at 10^6 base / width 4 with bit-identical counters at BOTH
# batch sizes — and LOST at both: 2000 queries: probe-active cand-leg
# epoch means 1.67-2.08 vs 1.42-1.56 s/round on a quieter box (totals
# 181.2 vs 171.2 s); 8000 queries (4x the history — the regime the
# O(history) anti-join argument predicted a win): cand-leg 12.8/8.7/4.9
# vs 3.05/2.60/2.30 s/round (totals 564.8 vs 262.6 s). The "flat
# per-round probe cost" hypothesis is FALSE: every worker re-reads,
# de-duplicates and sorts the whole snapshot once per compaction epoch —
# an O(history x n_workers) cost the JVM anti-join never pays — plus the
# full pre-dedup candidate volume crosses a Python boundary every round.
# The JVM's SMJ over bare 16 B id pairs amortizes the seen shuffle far
# better at every scale measured; reverted like r12's semi-join variant
# (logs: /tmp/dist_r13_legA/B.log, /tmp/dist_r13_8k_legA/B.log; full
# numbers in OPTIMIZATION_r13.md).


def search_graph_distributed(
    queries_df: DataFrame,
    base_df: DataFrame,
    adj_df: DataFrame,
    entry_point: int,
    k: int,
    l_search: int,
    metric: str = "l2",
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    max_rounds: int = 200,
    expand_width: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Top-k ANN for every query row without broadcasting the index;
    returns ``(qid, nn_id, dist, rank, cmps, hops)`` — bit-identical to
    ``search.search_graph`` on the same inputs (at the same
    ``expand_width``).

    ``expand_width`` is the frontier-BATCHED variant: each round expands
    up to that many unexpanded pool entries per query instead of the
    strict best-first one, cutting the dominant cost — driver-synchronized
    join rounds — ~width-fold at the price of scoring some neighbors a
    strict order would have pruned. Width 1 (default) keeps exact
    bit-parity with the broadcast path; wider is recall-gated
    (tests/test_graph.py).

    ``max_degree`` bounds the per-node neighbor-list length for the
    broadcast-size estimates below. When None (the default) it is
    measured as ``max(size(nbrs))`` over the adjacency — one aggregate
    scan, but a GUARANTEED upper bound; pass it only when the true bound
    is known (note the builder's connectivity repair may bridge past
    ``IndexParams.degree_cap``, so the cap alone is NOT that bound —
    but ``save_index`` records the measured bound in the index header,
    so loaded-index callers should thread ``meta["max_degree"]`` here
    instead of re-paying the O(N) scan per search call).
    Sampling a single row here was the r9-verdict hazard: a degree-1
    first row underestimates the candidate side ~10-70x and a giant
    batch could slip past the broadcast gate into Spark's 8 GB
    hard-fail."""
    spark = queries_df.sparkSession
    # the query set is re-joined every round: checkpoint once, and size
    # the per-round broadcast-hint estimates from its REAL row count so
    # a giant query batch degrades to the planner's exchange instead of
    # hard-failing Spark's 8 GB broadcast ceiling (the hints below
    # deliberately bypass the planner's size guard — see hazard #9).
    # Count and a dim witness come from ONE aggregate job (r12: was a
    # count() plus a separate head() — one fixed job per call shaved).
    q = queries_df.select(
        F.col(query_id).alias("qid"), F.col(vec_col).alias("qvec")
    ).localCheckpoint(eager=True)
    stat = q.agg(F.count(F.lit(1)).alias("n"), F.first("qvec").alias("v")).head()
    n_q = int(stat["n"])
    dim = len(stat["v"]) if stat is not None and stat["v"] is not None else 0
    if max_degree is not None:
        deg = int(max_degree)
    else:
        deg_row = adj_df.agg(F.max(F.size("nbrs")).alias("d")).head()
        deg = int(deg_row["d"]) if deg_row is not None and deg_row["d"] is not None else 1
    frontier_bytes = n_q * expand_width * 24.0
    cand_bytes = n_q * expand_width * max(deg, 1) * 24.0
    q_bytes = n_q * (dim * 8 + 24.0)
    base = base_df.select(F.col(base_id).alias("nn_id"), F.col(vec_col).alias("bvec"))

    # Seed: every query starts at the medoid entry point.
    ep_vec = base.where(F.col("nn_id") == entry_point)
    seed = (
        q.crossJoin(F.broadcast(ep_vec))
        .select(
            "qid",
            "nn_id",
            distance_col(metric, "qvec", "bvec").alias("dist"),
            F.lit(False).alias("expanded"),
        )
    )
    # exclude_self must NOT drop the seed row: a query whose qid equals the
    # entry point still needs the medoid in its pool to have anything to
    # expand (the broadcast path keeps the seed and filters the self row
    # from the final pool only — mirrored below).
    pool = seed.localCheckpoint(eager=True)

    pool_w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nn_id").asc())

    # Dedup archive: the ids of every row ever scored (seed included, so
    # cmps = |seen| - 1 matches the reference's counter convention). Each
    # element is a small ALREADY-materialized per-round frame — appended,
    # never rewritten; the anti-join reads their lazy union. Compacted to
    # one parquet snapshot at each stats reset.
    seen_parts: list[DataFrame] = [pool.select("qid", "nn_id")]
    # Every frontier row is marked expanded exactly once, and marks are
    # permanent — so hops = per-qid count over the per-round frontier
    # frames (each already checkpointed for the joins below).
    frontier_parts: list[DataFrame] = []

    # stats-reset snapshots live in ONE scratch dir per call; the seen
    # compaction alternates generation subdirs (the previous snapshot is
    # an INPUT of the next compaction, and Spark refuses to overwrite a
    # path it is reading). The dir is ALWAYS removed before returning:
    # counters and pool are re-checkpointed at exit, so the returned lazy
    # plan never references the snapshots (pre-r12 this leaked one
    # bounded dir per call whose loop ended right after a reset). It sits
    # under the stage root, so a killed driver's snapshots are swept too.
    reset_dir: str | None = None
    seen_gen = 0

    try:
        for rnd in range(max_rounds):
            if rnd and rnd % _STATS_RESET_EVERY == 0:
                # stats reset: pool takes a parquet round-trip so estimated
                # sizeInBytes restarts from the actual file size, and the
                # seen-id frames compact into one snapshot (values
                # unchanged — bit-parity with the broadcast path holds)
                if reset_dir is None:
                    reset_dir = scratch_dir("search-reset-")
                pool_path = os.path.join(reset_dir, "pool")
                # explicit schemas on the read-backs: the frames were just
                # written from driver-known schemas, so re-inferring them
                # costs a footer-read job per reset for nothing (stats
                # still come from the file listing, which is the point of
                # the round-trip)
                pool_schema = pool.schema
                pool.write.mode("overwrite").parquet(pool_path)
                pool = spark.read.schema(pool_schema).parquet(pool_path)
                seen_gen += 1
                seen_path = os.path.join(reset_dir, f"seen{seen_gen % 2}")
                seen_union = _union_all(seen_parts)
                seen_schema = seen_union.schema
                seen_union.write.mode("overwrite").parquet(seen_path)
                seen_parts = [spark.read.schema(seen_schema).parquet(seen_path)]

            # one row per live query — tiny; the count() both materializes
            # the lazy checkpoint and answers the emptiness probe in a
            # single job (r12: was an eager checkpoint plus an isEmpty job)
            frontier = (
                pool.where(~F.col("expanded"))
                .withColumn("fr", F.row_number().over(pool_w))
                .where(F.col("fr") <= expand_width)
                .select("qid", "nn_id")
                .localCheckpoint(eager=False)
            )
            if frontier.count() == 0:
                break
            frontier_parts.append(frontier)

            # expand: frontier ⋈ adjacency → fresh candidate ids per query,
            # deduped against every id scored in ANY earlier round.
            # BROADCAST the frontier explicitly: the stats the planner sees
            # for checkpointed loop state are estimates, and a sort-merge
            # pick here re-shuffles the FULL adjacency every round — scale
            # hazard #9, measured as ~GBs of shuffle write per round at 10^7
            # (local scratch exhaustion in minutes; on a cluster, the whole
            # static index crossing the network once per round). With the
            # hint only the per-round frontier/candidate rows ever move.
            cand = (
                broadcast_if_under(frontier, frontier_bytes)
                .join(adj_df, frontier["nn_id"] == adj_df["node"])
                .select("qid", F.explode("nbrs").alias("nn_id"))
                .dropDuplicates(["qid", "nn_id"])
                .join(_union_all(seen_parts), ["qid", "nn_id"], "left_anti")
            )
            if exclude_self:
                cand = cand.where(F.col("nn_id") != F.col("qid"))

            # score: candidate ⋈ base vector ⋈ query vector. The candidate
            # set is per-round small (≤ queries x width x degree rows) while
            # the base side is the whole index — broadcast the candidates so
            # the base is STREAMED in place (scanned, never shuffled), same
            # hazard-#9 reasoning as the expansion join. Checkpointed: the
            # scored rows feed both the pool update and the seen archive.
            scored = (
                broadcast_if_under(cand, cand_bytes)
                .join(base, "nn_id")
                .join(broadcast_if_under(q, q_bytes), "qid")
                .select(
                    "qid",
                    "nn_id",
                    distance_col(metric, "qvec", "bvec").alias("dist"),
                    F.lit(False).alias("expanded"),
                )
                .localCheckpoint(eager=True)
            )
            # archive reads coalesce to one task per frame: the scored
            # checkpoint inherits the base scan's partition count, and a
            # 16-frame union of 64-partition micro-frames put ~1000 map
            # tasks under every anti-join shuffle (measured at 10^6: the
            # cand leg grew 1.7 -> 4 s/round from scheduling alone).
            # coalesce is lazy — scoring itself keeps full parallelism.
            seen_parts.append(scored.select("qid", "nn_id").coalesce(1))

            # pool update: mark the expanded frontier rows, admit the new
            # scored rows, keep the per-query (dist, id) top-L. Top-L of
            # (top-L of history ∪ new rows) == top-L of history — rows
            # only ever accumulate and ranks only ever grow, so a row
            # outside the pool can never re-enter; the window input is
            # BOUNDED by n_q x (l_search + width x degree), not history.
            marked = (
                pool.join(
                    broadcast_if_under(
                        frontier.withColumn("mark", F.lit(True)), frontier_bytes
                    ),
                    ["qid", "nn_id"],
                    "left",
                )
                .withColumn("expanded", F.col("expanded") | F.coalesce("mark", F.lit(False)))
                .drop("mark")
            )
            pool = (
                marked.unionByName(scored)
                .withColumn("rk", F.row_number().over(pool_w))
                .where(F.col("rk") <= l_search)
                .drop("rk")
                .localCheckpoint(eager=True)
            )

        # counters: every seen id was scored exactly once; the single seed
        # row is excluded from cmps per the reference's counter convention
        # (matches the broadcast path, which zeroes cmps after scoring the
        # entry point). hops = expansions = total frontier rows per query.
        hops_df = (
            _union_all(frontier_parts).groupBy("qid").agg(
                F.count("*").cast("int").alias("hops")
            )
            if frontier_parts
            else q.select("qid").limit(0).withColumn("hops", F.lit(0).cast("int"))
        )
        counters = (
            _union_all(seen_parts)
            .groupBy("qid")
            .agg((F.count("*") - F.lit(1)).cast("int").alias("cmps"))
            .join(hops_df, "qid", "left")
            .select("qid", "cmps", F.coalesce("hops", F.lit(0)).cast("int").alias("hops"))
            # eager: the returned plan must not re-run the seen union per
            # action, and must not reference the parquet snapshots (the
            # scratch dir is removed below)
            .localCheckpoint(eager=True)
        )
        if reset_dir is not None and rnd % _STATS_RESET_EVERY == 0 and rnd:
            # the loop may have broken in the same round as a reset, while
            # pool was still the parquet scan — re-materialize before the
            # snapshots are deleted
            pool = pool.localCheckpoint(eager=True)
    except BaseException:
        if reset_dir is not None:
            shutil.rmtree(reset_dir, ignore_errors=True)
        raise
    if reset_dir is not None:
        shutil.rmtree(reset_dir, ignore_errors=True)

    # Bound to the top-l_search pool FIRST, then drop the self row, then
    # take k — the same order as the broadcast path's final emit. Filtering
    # self from all scored rows before ranking would let the
    # (l_search+1)-th candidate slide into the result when k == l_search
    # and self sits inside the pool, breaking bit-parity. The pool state IS
    # the top-l_search already; the rank window is only re-run when the
    # self filter removed rows (exclude_self), otherwise the first
    # ranking is reused (identical ordering, one window pass saved).
    final = pool.withColumn("rk", F.row_number().over(pool_w))
    if exclude_self:
        final = (
            final.where(F.col("nn_id") != F.col("qid"))
            .withColumn("rank", F.row_number().over(pool_w))
        )
    else:
        final = final.withColumn("rank", F.col("rk"))
    return (
        final.where(F.col("rank") <= k)
        .join(counters, "qid")
        .select("qid", "nn_id", "dist", F.col("rank").cast("int"), "cmps", "hops")
    )
