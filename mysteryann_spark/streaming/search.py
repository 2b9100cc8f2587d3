"""Streaming ANN retrieval over a batch-built index.

The engine's north star is batch index construction, but the natural
deployment runs a QUERY STREAM against that index: micro-batches of
embeddings arrive, each is beam-searched against the broadcast CSR, and
per-query top-k rows flow to the sink. The search kernel is stateless
per query, so the batch operator (operators/search.search_graph — its
mapInPandas works unchanged on a streaming frame) IS the streaming
operator; no watermark or state store is needed, and throughput scales
with partitions exactly like the batch path.

This is the Spark rendering of the reference's interactive search mode
(tests/test_search_roargraph.cpp batch loop), minus the part Spark
genuinely doesn't target: single-query millisecond latency.
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

_EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", StringType()),
    ]
)


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings.parquet as an unbounded query stream (file source —
    the local stand-in for a Kafka topic of incoming queries)."""
    from mysteryann_spark.sources.staging import scratch_dir

    stage = scratch_dir("mysteryann-stream-")
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "embeddings.parquet")),
        os.path.join(stage, "embeddings.parquet"),
    )
    return spark.readStream.format("parquet").schema(_EMB_SCHEMA).load(stage)


def stream_search_topk(
    queries_stream: DataFrame,
    base_df: DataFrame,
    adj_df: DataFrame,
    entry_point: int,
    k: int,
    l_search: int,
    metric: str = "l2",
) -> DataFrame:
    """Top-k ANN for every query in the stream; same result schema and
    values as the batch search_graph (parity-tested)."""
    from mysteryann_spark.operators.search import search_graph

    q = queries_stream.select(F.col("vec_id").alias("qid"), "embedding")
    return search_graph(
        q, base_df, adj_df, entry_point, k=k, l_search=l_search, metric=metric
    )
