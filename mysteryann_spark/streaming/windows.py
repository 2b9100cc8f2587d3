"""Structured Streaming operators over the events table — SURVEY.md §2.11.

The reference is batch-only; these are the Spark-native streaming renditions
of the batch window queries in queries/events.py, parity-tested against
them (tests/test_streaming.py) by driving the parquet file through
``readStream`` into a memory sink.

Watermarking: 1 hour on event time — late rows beyond the watermark are
dropped from open windows, which is the scale-correct default for an
unbounded 100 TB/day event feed (state store stays bounded). With the
static testdata file everything arrives "on time", so batch parity holds
exactly.

Stateful sessionization uses applyInPandasWithState — the Spark equivalent
of a custom stateful operator: per-user state carries (last_ts,
session_id); timeouts flush idle users.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from mysteryann_spark.sources.staging import scratch_dir
from mysteryann_spark.sources.tables import normalize_event_ts

# Raw parquet schema for events: the driver has shipped ts both as INT64
# TIMESTAMP(NANOS) (readable only as long under nanosAsLong) and as plain
# TIMESTAMP(MICROS) NTZ. readStream requires an explicit schema, so take
# the batch reader's inferred one (once per call — one footer read), and
# let normalize_event_ts (shared with sources/tables.py) turn whatever
# arrived into event-time TIMESTAMP (LTZ; identity under UTC session tz).
def _raw_events_schema(spark: SparkSession, path: str) -> StructType:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an unbounded stream (file source: each file is a
    micro-batch — the local stand-in for a Kafka topic).

    The file source requires a directory, and the source dir may be
    read-only, so the single parquet file is symlinked into a fresh
    scratch dir per call.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.join(sf_dir, "events.parquet")
    schema = _raw_events_schema(spark, src)
    stage = scratch_dir("mysteryann-stream-")
    os.symlink(os.path.abspath(src), os.path.join(stage, "events.parquet"))
    raw = spark.readStream.format("parquet").schema(schema).load(stage)
    return normalize_event_ts(raw)


def stream_tumbling_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of queries/events.events_tumbling."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


_SESS_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
        StructField("duration_ms", LongType()),
    ]
)
_SESS_STATE_SCHEMA = StructType(
    [
        StructField("last_us", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("buf", ArrayType(LongType())),
    ]
)

_GAP_US = 1_800_000_000  # 30 min, same as the batch query


def _session_fn(key, pdfs, state):
    """Per-user stateful session assembly: emits a row per CLOSED session.

    Two scale rules, both learned from the 10^7-event rehearsal
    (tools/scale_streaming.py), where the naive version corrupted most
    sessions:

    - **Buffer to the watermark.** Events are held in state (``buf``) until
      the watermark passes them, then folded into the session in event-time
      order. Folding immediately is only correct if the source delivers
      each user's events in order — real feeds (time-sliced files, Kafka
      with any cross-partition skew) do not guarantee that, and a single
      out-of-order pair mis-splits the session. The buffer is bounded by
      the watermark horizon (1 h of one user's events), which is exactly
      the state bound watermarking promises.
    - **Close by timeout, but never forget the counter.** Removing state on
      timeout resets ``session_id`` to 0 for a returning user, silently
      renumbering every later session. The closed-session timeout keeps a
      tombstone (counter + frontier, empty buffer, NO armed timeout), so
      state for an idle user is one row, and numbering survives. True TTL
      eviction of ancient users would trade that numbering away —
      ordinal-per-user ids inherently need per-user memory.

    The open tail session is flushed when the watermark passes
    last_event + gap (event-time timeout; wall-clock timeouts would flush
    lagging partitions incorrectly).
    """
    import pandas as pd

    (user_id,) = key
    new: list[int] = []
    for pdf in pdfs:
        new.extend(int(u) for u in pdf["us"].tolist())
    if state.exists:
        last_us, session_id, n_events, start_us, buf = state.get
        buf = sorted(list(buf or ()) + new)
    else:
        last_us, session_id, n_events, start_us, buf = None, 0, 0, None, sorted(new)

    wm_ms = state.getCurrentWatermarkMs()
    wm_us = wm_ms * 1000
    ready = [u for u in buf if u <= wm_us]
    pending = [u for u in buf if u > wm_us]

    rows = []
    for us in ready:
        if last_us is not None and us < last_us:
            continue  # beyond-watermark late (possible only via a broken source)
        if n_events == 0 or us - last_us > _GAP_US:
            if n_events > 0:
                rows.append((user_id, session_id, n_events, (last_us - start_us) // 1000))
            session_id += 1
            n_events = 0
            start_us = us
        n_events += 1
        last_us = us
    # the open session closes once no on-time event can extend it: every
    # future event has us > wm >= last_us + gap and would start a new one
    if n_events > 0 and wm_us >= last_us + _GAP_US:
        rows.append((user_id, session_id, n_events, (last_us - start_us) // 1000))
        n_events = 0
        start_us = None

    state.update((last_us, session_id, n_events, start_us, pending))
    # wake when the watermark can next change the answer: close the open
    # session, or drain the oldest buffered event — whichever comes first
    cands = []
    if n_events > 0:
        cands.append(last_us + _GAP_US)
    if pending:
        cands.append(pending[0])
    if cands:
        state.setTimeoutTimestamp(max(min(cands) // 1000 + 1, wm_ms + 1))
    yield pd.DataFrame(
        rows, columns=["user_id", "session_id", "n_events", "duration_ms"]
    )


def stream_sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful operator: gap-based sessions via
    applyInPandasWithState (GroupState per user, event-time timeout)."""
    with_us = events.withWatermark("ts", "1 hour").withColumn("us", F.unix_micros("ts"))
    return with_us.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=_SESS_OUT_SCHEMA,
        stateStructType=_SESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def read_events_stream_duplicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events feed delivered TWICE in separate micro-batches — the
    local stand-in for an at-least-once source (Kafka redelivery, file
    re-drops). Used to demonstrate streaming dedup: every event arrives
    exactly twice."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.join(sf_dir, "events.parquet")
    schema = _raw_events_schema(spark, src)
    stage = scratch_dir("mysteryann-stream-")
    for name in ("events_a.parquet", "events_b.parquet"):
        os.symlink(os.path.abspath(src), os.path.join(stage, name))
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)  # one copy per micro-batch
        .load(stage)
    )
    return normalize_event_ts(raw)


def stream_dedup_exact(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event identity — the pipeline's defense
    against at-least-once delivery. ``dropDuplicatesWithinWatermark``
    keys state on event_id and expires it once the watermark passes, so
    state stays O(watermark window), not O(stream) — the only dedup
    semantics that survive an unbounded feed. Emits each event once even
    when the source delivers it in multiple micro-batches."""
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )


def stream_view_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: views ⋈ purchases of the same user with
    the purchase within 30 minutes after the view — the streaming twin of
    queries/events.events_interval_join.

    Watermarks on BOTH sides plus the time-range join condition are what
    let Spark bound the join state: a buffered view can be dropped once
    the purchase-side watermark passes view_ts + 30min, so state stays
    O(window), not O(stream). Both inputs here are filters of one source
    stream (a self-join), which Spark supports natively.
    """
    v = (
        events.where(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return v.join(
        p,
        (v["user_id"] == p["user_id"])
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(v["user_id"], "view_id", "purchase_id")


def run_stream_to_memory(
    streaming_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming frame to completion against the static file and
    return the materialized result (memory sink)."""
    q = (
        streaming_df.writeStream.outputMode(output_mode)
        .trigger(availableNow=True)
        .format("memory")
        .queryName(name)
        .start()
    )
    # availableNow processes the backlog then terminates on its own — unlike
    # processAllAvailable, which never settles for stateful ops whose
    # ProcessingTimeTimeout keeps scheduling follow-up micro-batches.
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return streaming_df.sparkSession.sql(f"SELECT * FROM {name}")
