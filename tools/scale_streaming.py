"""Structured-Streaming rehearsal at 10^7 events — the fourth pillar
(after graph-ANN, IVF-PQ, and dedup): run the PRODUCTION streaming
operators (streaming/windows.py) over an event feed two to three orders
of magnitude above the sf0.01 correctness scale, measure sustained
events/s, and parity-check every answer against the batch twin computed
over the same files — the same acceptance logic as tests/test_streaming.py,
but executed distributed (anti-joins, only counts reach the driver).

Feed synthesis is pure Catalyst (xxhash64-derived users/types/values, ts
monotone in event_id with ±60 s jitter — inside the 1 h watermark), range-
partitioned into K ordered files: each file is a time slice, the local
stand-in for a Kafka topic draining in order. Three operators:

- tumbling window agg: watermarked groupBy(window) — output is tiny,
  compared map-exact against the batch window agg.
- stateful sessionize (applyInPandasWithState): gap-closed sessions at
  n_users live state keys; every emitted session must match the batch
  lag/cumsum sessionizer EXACTLY (anti-join both ways), tail sessions may
  legitimately still sit in state when the feed ends.
- dropDuplicatesWithinWatermark under at-least-once delivery: every file
  delivered twice, interleaved, so redelivery lands within the watermark
  and the state key set stays O(watermark window), not O(stream).

Run:   python tools/scale_streaming.py [N] [N_USERS] [HOURS] [N_FILES] [FPT]
       (defaults 10_000_000, 100_000, 72, 40, 4; one JSON line per stage
       — paste into SCALE.md)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TYPES = ["click", "error", "purchase", "signup", "view"]
GAP_US = 1_800_000_000  # 30 min — same gap as the production sessionizer
WORK = "/tmp/mysteryann_scale_stream"


def synth_events(spark, n: int, n_users: int, hours: int):
    """Deterministic event feed, no Python in the loop: ts is monotone in
    event_id (mean inter-event step span/n) with ±60 s jitter, so a range
    partition on event_id IS a time slice and the 1 h watermark never
    drops an on-time row. Per-user inter-event gaps are then ~exponential
    with mean span/(n/n_users) — sized so a 30 min session gap splits
    naturally (mean ~43 min at the defaults)."""
    from pyspark.sql import functions as F

    span_us = hours * 3600 * 1_000_000
    base_us = 1_767_225_600_000_000  # 2026-01-01 00:00:00 UTC
    h = lambda salt: F.xxhash64(F.col("id"), F.lit(salt))  # noqa: E731
    return spark.range(0, n, 1, 64).select(
        F.col("id").alias("event_id"),
        F.pmod(h(1), F.lit(n_users)).alias("user_id"),
        F.timestamp_micros(
            F.lit(base_us)
            + F.col("id") * F.lit(span_us // n)
            + F.pmod(h(2), F.lit(120_000_000))
            - F.lit(60_000_000)
        ).alias("ts"),
        F.element_at(
            F.array(*[F.lit(t) for t in TYPES]),
            (F.pmod(h(3), F.lit(len(TYPES))) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(h(4), F.lit(10_000)) / F.lit(100.0)).alias("value"),
    )


def run_stream(stream_df, name: str, fmt: str, out_mode: str):
    """availableNow drain to a parquet (or memory) sink; returns wall s."""
    t0 = time.time()
    if fmt == "memory":
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(out_mode)
            .option("checkpointLocation", f"{WORK}/ckpt_{name}")
            .trigger(availableNow=True)
            .start()
        )
    else:
        q = (
            stream_df.writeStream.format("parquet")
            .outputMode(out_mode)
            .option("path", f"{WORK}/out_{name}")
            .option("checkpointLocation", f"{WORK}/ckpt_{name}")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return time.time() - t0


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_users = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    hours = int(sys.argv[3]) if len(sys.argv) > 3 else 72
    n_files = int(sys.argv[4]) if len(sys.argv) > 4 else 40
    fpt = int(sys.argv[5]) if len(sys.argv) > 5 else 4

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mysteryann_spark.session import get_spark
    from mysteryann_spark.streaming.windows import (
        stream_dedup_exact,
        stream_sessionize,
        stream_tumbling_counts,
    )

    spark = get_spark(app_name=f"scale-streaming-{n}")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    shutil.rmtree(WORK, ignore_errors=True)
    raw_dir = f"{WORK}/raw"
    in_dir = f"{WORK}/input"
    t0 = time.time()
    (
        synth_events(spark, n, n_users, hours)
        .repartitionByRange(n_files, "event_id")
        .sortWithinPartitions("event_id")
        .write.parquet(raw_dir)
    )
    # The file source drains files in MODIFICATION-TIME order (it stats
    # through symlinks, so link mtimes don't count), and a parallel write
    # stamps every part file the same ms — arbitrary slice order, i.e.
    # whole time slices arriving hours late, far outside the watermark
    # contract, where Spark's pre-stateful late-row filter silently drops
    # them. Stamp ascending mtimes on the part files themselves so
    # delivery order is the time order a draining Kafka topic gives.
    files = sorted(f for f in os.listdir(raw_dir) if f.endswith(".parquet"))
    os.makedirs(in_dir)
    for i, f in enumerate(files):
        os.utime(f"{raw_dir}/{f}", times=(1_000_000 + i, 1_000_000 + i))
        os.symlink(f"{raw_dir}/{f}", f"{in_dir}/f{i:05d}.parquet")
    print(json.dumps({
        "stage": "synth", "n": n, "n_users": n_users, "hours": hours,
        "files": len(files), "sec": round(time.time() - t0, 1),
    }), flush=True)

    schema = spark.read.parquet(in_dir).schema
    batch = spark.read.parquet(in_dir)

    def read_stream(path: str, per_trigger: int):
        return (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", per_trigger)
            .load(path)
        )

    # -- tumbling window agg ------------------------------------------------
    wall = run_stream(
        stream_tumbling_counts(read_stream(in_dir, fpt)), "tumbling", "memory",
        "complete",
    )
    got = {
        (r["win_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("tumbling").collect()
    }
    want = {
        (r["win_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in (
            batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
                "event_type", "n", "total_value",
            )
            .collect()
        )
    }
    bad = sum(
        1
        for k in set(got) | set(want)
        if k not in got or k not in want or got[k][0] != want[k][0]
        or abs(got[k][1] - want[k][1]) > 1e-3
    )
    print(json.dumps({
        "stage": "tumbling", "sec": round(wall, 1),
        "events_per_sec": round(n / wall), "windows": len(got),
        "parity_mismatches": bad,
    }), flush=True)
    assert bad == 0, "tumbling parity failed"

    # -- stateful sessionize ------------------------------------------------
    wall = run_stream(
        stream_sessionize(read_stream(in_dir, fpt)), "sessions", "parquet",
        "append",
    )
    emitted = spark.read.parquet(f"{WORK}/out_sessions")
    w = Window.partitionBy("user_id").orderBy("us")
    sess = (
        batch.withColumn("us", F.unix_micros("ts"))
        .withColumn("prev", F.lag("us").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull() | (F.col("us") - F.col("prev") > GAP_US), 1
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            ((F.max("us") - F.min("us")) / F.lit(1000)).cast("long").alias("duration_ms"),
            F.max("us").alias("end_us"),
        )
    ).localCheckpoint()
    keys = ["user_id", "session_id", "n_events", "duration_ms"]
    # every emitted session must be byte-for-byte a batch session
    wrong = emitted.join(sess, keys, "left_anti").count()
    # every watermark-CLOSABLE batch session must have been emitted;
    # sessions inside the final watermark horizon legitimately still sit
    # in state when the bounded feed ends
    wm_final_us = (
        batch.agg(F.max(F.unix_micros("ts"))).collect()[0][0] - 3_600_000_000
    )
    closable = sess.where(F.col("end_us") + F.lit(GAP_US) <= F.lit(wm_final_us))
    missing = closable.join(emitted, keys, "left_anti").count()
    n_emitted = emitted.count()
    print(json.dumps({
        "stage": "sessionize", "sec": round(wall, 1),
        "events_per_sec": round(n / wall), "emitted_sessions": n_emitted,
        "batch_sessions": sess.count(), "state_keys": n_users,
        "emitted_not_in_batch": wrong, "closable_not_emitted": missing,
    }), flush=True)
    assert wrong == 0 and missing == 0, "sessionize parity failed"

    # -- dedup under at-least-once delivery --------------------------------
    dup_dir = f"{WORK}/input_dup"
    os.makedirs(dup_dir)
    for i, f in enumerate(files):
        # interleave the redelivery (a/b adjacent): the duplicate arrives
        # within the watermark, so it is KILLED BY STATE, not by lateness.
        # Real copies, not symlinks — the two deliveries need DISTINCT
        # mtimes and symlink targets share one inode.
        for j, copy in enumerate(("a", "b")):
            dst = f"{dup_dir}/f{i:05d}{copy}.parquet"
            shutil.copyfile(f"{raw_dir}/{f}", dst)
            os.utime(dst, times=(2_000_000 + 2 * i + j, 2_000_000 + 2 * i + j))
    wall = run_stream(
        stream_dedup_exact(read_stream(dup_dir, 1)), "dedup", "parquet", "append"
    )
    out = spark.read.parquet(f"{WORK}/out_dedup")
    n_out, n_distinct = out.count(), out.select("event_id").distinct().count()
    print(json.dumps({
        "stage": "dedup", "delivered": 2 * n, "sec": round(wall, 1),
        "events_per_sec": round(2 * n / wall), "emitted": n_out,
        "distinct": n_distinct, "exactly_once": n_out == n_distinct == n,
    }), flush=True)
    assert n_out == n_distinct == n, "dedup exactly-once failed"
    spark.stop()


if __name__ == "__main__":
    main()
