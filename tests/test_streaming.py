"""Structured Streaming parity vs the batch window queries."""

import pytest

from mysteryann_spark.queries.events import events_tumbling
from mysteryann_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_memory,
    stream_sessionize,
    stream_tumbling_counts,
)
from tests.conftest import SF_DIR


def test_stream_tumbling_matches_batch(spark):
    stream = stream_tumbling_counts(read_events_stream(spark, SF_DIR))
    got = run_stream_to_memory(stream, "tumbling_out", "complete").collect()
    want = events_tumbling(spark, SF_DIR).collect()
    key = lambda r: (r["win_start"], r["event_type"])  # noqa: E731
    got_map = {key(r): (r["n"], r["total_value"]) for r in got}
    want_map = {key(r): (r["n"], r["total_value"]) for r in want}
    assert got_map == want_map


def test_stream_sessionize_closed_sessions(spark):
    stream = stream_sessionize(read_events_stream(spark, SF_DIR))
    got = run_stream_to_memory(stream, "sessions_out", "append").collect()
    # The sessionizer buffers events to the watermark (10^7-event rehearsal
    # finding: immediate folding corrupts sessions under out-of-order
    # delivery). A session is guaranteed emitted once the FINAL watermark
    # passed its end + gap; later sessions may legitimately still sit in
    # state when a bounded feed ends. So: every emitted row must match the
    # batch sessionizer exactly, and every watermark-closable batch session
    # must have been emitted.
    from datetime import datetime, timezone

    from mysteryann_spark.queries.events import events_sessionize

    batch = events_sessionize(spark, SF_DIR).collect()

    def end_us(r):
        start = datetime.strptime(
            r["sess_start"], "%Y-%m-%d %H:%M:%S.%f"
        ).replace(tzinfo=timezone.utc)
        return int(start.timestamp() * 1_000_000) + r["duration_ms"] * 1000

    wm_final_us = max(end_us(r) for r in batch) - 3_600_000_000
    gap_us = 1_800_000_000
    batch_map = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_ms"]) for r in batch
    }
    # 2 s margin absorbs the ms truncation in duration_ms round-tripping
    closable = {
        (r["user_id"], r["session_id"])
        for r in batch
        if end_us(r) + gap_us <= wm_final_us - 2_000_000
    }
    got_map = {(r["user_id"], r["session_id"]): (r["n_events"], r["duration_ms"]) for r in got}
    missing = closable - set(got_map)
    assert not missing, f"{len(missing)} watermark-closable sessions not emitted"
    for k, v in got_map.items():
        assert batch_map[k] == v, (k, v, batch_map[k])


def test_stream_dedup_collapses_redelivery(spark):
    """Every event delivered twice (two micro-batches of the same file)
    must come out exactly once, matching the batch event set."""
    from mysteryann_spark.sources.tables import load_table
    from mysteryann_spark.streaming.windows import (
        read_events_stream_duplicated,
        stream_dedup_exact,
    )

    stream = stream_dedup_exact(read_events_stream_duplicated(spark, SF_DIR))
    got = run_stream_to_memory(stream, "dedup_out", "append").collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids))  # each event exactly once
    want = {
        (r["event_id"], r["user_id"], r["event_type"], r["value"])
        for r in load_table(spark, "events", SF_DIR).select(
            "event_id", "user_id", "event_type", "value"
        ).collect()
    }
    assert {(r["event_id"], r["user_id"], r["event_type"], r["value"]) for r in got} == want


def test_stream_stream_join_matches_batch(spark):
    from mysteryann_spark.queries.events import events_interval_join
    from mysteryann_spark.streaming.windows import stream_view_purchase_join

    stream = stream_view_purchase_join(read_events_stream(spark, SF_DIR))
    got = run_stream_to_memory(stream, "vp_join_out", "append").collect()
    want = events_interval_join(spark, SF_DIR).collect()
    key = lambda r: (r["user_id"], r["view_id"], r["purchase_id"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))


def test_stream_search_matches_batch(spark):
    """Batch-built index, streaming queries: the micro-batched search must
    emit exactly the batch search's rows."""
    from pyspark.sql import functions as F

    from mysteryann_spark.operators.projection import build_roargraph_from_table
    from mysteryann_spark.operators.search import search_graph
    from mysteryann_spark.params import IndexParams
    from mysteryann_spark.sources.tables import load_table
    from mysteryann_spark.streaming.search import read_embeddings_stream, stream_search_topk

    emb = load_table(spark, "embeddings", SF_DIR).cache()
    params = IndexParams(M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="l2")
    adj, ep = build_roargraph_from_table(spark, emb, params)
    adj = adj.localCheckpoint()

    stream = stream_search_topk(
        read_embeddings_stream(spark, SF_DIR), emb, adj, ep, k=5, l_search=20
    )
    got = run_stream_to_memory(stream, "stream_search_out", "append").collect()
    q = emb.select(F.col("vec_id").alias("qid"), "embedding")
    want = search_graph(q, emb, adj, ep, k=5, l_search=20, metric="l2").collect()
    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    got_map = {key(r): (r["nn_id"], round(r["dist"], 9)) for r in got}
    want_map = {key(r): (r["nn_id"], round(r["dist"], 9)) for r in want}
    assert got_map == want_map


def test_approx_distinct_error_bound(spark):
    """HLL++ at rsd=0.02 must land within 5% of the exact distinct count
    for every event type."""
    from mysteryann_spark.queries.events import events_approx_distinct
    from tests.conftest import SF_DIR

    rows = events_approx_distinct(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        rel = abs(r["approx_users"] - r["exact_users"]) / max(r["exact_users"], 1)
        assert rel <= 0.05, (r["event_type"], r["approx_users"], r["exact_users"])


def test_normalize_event_ts_handles_both_encodings(spark, tmp_path):
    """The driver has shipped events.ts as INT64 TIMESTAMP(NANOS) and as
    TIMESTAMP(MICROS) NTZ; normalize_event_ts must produce identical
    event-time TIMESTAMP values for both."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysteryann_spark.sources.tables import normalize_event_ts

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    nanos_tbl = pa.table(
        {"ts": pa.array([m * 1000 for m in micros], type=pa.timestamp("ns"))}
    )
    micros_tbl = pa.table({"ts": pa.array(micros, type=pa.timestamp("us"))})
    p_ns, p_us = str(tmp_path / "ns.parquet"), str(tmp_path / "us.parquet")
    pq.write_table(nanos_tbl, p_ns)
    pq.write_table(micros_tbl, p_us)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    a = normalize_event_ts(spark.read.parquet(p_ns))
    b = normalize_event_ts(spark.read.parquet(p_us))
    assert dict(a.dtypes)["ts"] == "timestamp"
    assert dict(b.dtypes)["ts"] == "timestamp"
    va = sorted(r["ts"] for r in a.collect())
    vb = sorted(r["ts"] for r in b.collect())
    assert va == vb


def _insert_feed(emb):
    """``(old, ops)``: the first 90% of ``emb`` and an insert-only change
    feed of the rest in three batches, ``vec_id % 3`` (the feed of the
    ``roargraph_stream_insert`` registry entry)."""
    from pyspark.sql import functions as F

    cut = int(emb.count() * 0.9)
    ops = emb.where(F.col("vec_id") >= cut).select(
        (F.col("vec_id") % 3).alias("batch"), F.lit("insert").alias("op"), "vec_id", "embedding"
    )
    return emb.where(F.col("vec_id") < cut), ops


def _churn_feed(spark, emb):
    """``(old, ops, cut, v_new, del_ids)``: ``emb`` minus its last 50
    rows, and a three-batch change feed over it. Batch 0 inserts 20 of
    the held-out rows; batch 1 deletes ``del_ids`` and inserts 15 more;
    batch 2 UPDATES id ``cut`` (delete + reinsert as ``v_new``) and
    inserts the last 14."""
    from pyspark.sql import functions as F

    n = emb.count()
    cut = n - 50
    old = emb.where(F.col("vec_id") < cut)
    vec = {r["vec_id"]: r["embedding"] for r in emb.where(F.col("vec_id") >= cut).collect()}
    v_new = [float(x) + 0.5 for x in vec[cut]]
    del_ids = [5, 15, 25, 35, 45, 55, 65, 75, 85, 95]
    rows = [(0, "insert", int(i), vec[i]) for i in range(cut, cut + 20)]
    rows += [(1, "delete", int(i), None) for i in del_ids]
    rows += [(1, "insert", int(i), vec[i]) for i in range(cut + 20, cut + 35)]
    rows += [(2, "delete", int(cut), None), (2, "insert", int(cut), v_new)]
    rows += [(2, "insert", int(i), vec[i]) for i in range(cut + 35, n)]
    ops = spark.createDataFrame(
        rows, "batch int, op string, vec_id bigint, embedding array<float>"
    )
    return old, ops, cut, v_new, del_ids


def test_stream_insert_roargraph_parity(spark, emb, tmp_path):
    """Streaming incremental maintenance (3 micro-batches through
    foreachBatch) must cover every node, hold the degree cap, make the
    streamed vectors retrievable (full-corpus recall >= 0.9 vs exact
    kNN), and be deterministic across replays of the same feed."""
    from pyspark.sql import functions as F

    from mysteryann_spark.operators.evaluate import mean_recall
    from mysteryann_spark.operators.knn import knn_join_arrays
    from mysteryann_spark.operators.projection import build_roargraph_from_table
    from mysteryann_spark.operators.search import search_graph
    from mysteryann_spark.params import IndexParams
    from mysteryann_spark.streaming.maintain import (
        stage_op_stream,
        stream_maintain_roargraph,
    )

    params = IndexParams(M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="l2")
    n = emb.count()
    old, ops = _insert_feed(emb)
    adj, ep = build_roargraph_from_table(spark, old, params)
    adj = adj.localCheckpoint()

    def run(tag):
        stream = stage_op_stream(spark, ops, str(tmp_path / f"feed_{tag}"))
        _, merged, _, n_batches = stream_maintain_roargraph(
            spark, old.select("vec_id", "embedding"), adj, ep,
            stream, params, str(tmp_path / f"ckpt_{tag}"),
        )
        assert n_batches == 3
        return merged.localCheckpoint()

    merged = run("a")
    rows = merged.select("node", F.array_sort("nbrs").alias("nbrs")).collect()
    assert len(rows) == n
    assert all(1 <= len(r["nbrs"]) <= params.degree_cap for r in rows)

    q = emb.select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(q, emb, merged, ep, k=10, l_search=params.L_pq, metric="l2")
    res_arr = (
        res.groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
        .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
    )
    gt = knn_join_arrays(q, emb, 10, "l2")
    recall = mean_recall(res_arr, gt, 10)
    assert recall >= 0.9, f"post-stream-insert recall@10={recall}"

    again = run("b")
    a = {r["node"]: r["nbrs"] for r in rows}
    b = {
        r["node"]: r["nbrs"]
        for r in again.select("node", F.array_sort("nbrs").alias("nbrs")).collect()
    }
    assert a == b


def test_stream_dedup_neardup_planted(spark, tmp_path):
    """Streaming MinHash near-dup: planted near-duplicates arriving in a
    LATER micro-batch must match their earlier source through the
    bucket state (cross-batch), with the exact verified Jaccard; unique
    docs must self-represent. LSH banding only generates candidates —
    the exact verify inside the state function decides, so no false
    merges below threshold."""
    import random

    from mysteryann_spark.streaming.dedup import assign_reps, stream_dedup_neardup

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(2000)]
    base = {i: rng.sample(vocab, 30) for i in range(40)}
    # batch 0: the 40 unique docs; batch 1: 10 near-dups (2 of 30 tokens
    # mutated -> true distinct-set jaccard 28/32 = 0.875 >= 0.7)
    dups = {}
    for j in range(10):
        src = j * 4
        toks = list(base[src])
        toks[0], toks[1] = f"m{j}a", f"m{j}b"
        dups[100 + j] = (src, toks)

    def write(path, rows):
        spark.createDataFrame(rows, "doc_id: bigint, text: string").coalesce(
            1
        ).write.mode("overwrite").parquet(path)

    import os

    stage = tmp_path / "feed"
    stage.mkdir()
    for b, rows in enumerate(
        [
            [(i, " ".join(t)) for i, t in base.items()],
            [(i, " ".join(t)) for i, (_, t) in dups.items()],
        ]
    ):
        wdir = str(tmp_path / f"w{b}")
        write(wdir, rows)
        part = next(f for f in os.listdir(wdir) if f.endswith(".parquet"))
        target = str(stage / f"batch_{b}.parquet")
        os.replace(os.path.join(wdir, part), target)
        os.utime(target, (1_000_000_000 + b, 1_000_000_000 + b))

    docs = (
        spark.readStream.format("parquet")
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .load(str(stage))
    )
    from mysteryann_spark.streaming.windows import run_stream_to_memory

    decisions = run_stream_to_memory(
        stream_dedup_neardup(docs, num_perm=32, bands=8, threshold=0.7),
        "neardup_out",
        "append",
    )
    final = {r["doc_id"]: r for r in assign_reps(decisions).collect()}
    assert len(final) == 50
    for did, (src, toks) in dups.items():
        row = final[did]
        assert row["is_dup"] == 1, f"planted dup {did} not caught"
        assert row["rep_id"] == src, f"dup {did} matched {row['rep_id']} != {src}"
        true_j = 28 / 32
        assert abs(row["jaccard"] - true_j) < 1e-6
    for did in base:
        assert final[did]["is_dup"] == 0, f"unique doc {did} falsely merged"


def test_stream_maintain_churn_parity(spark, emb, tmp_path):
    """Streaming CHURN (inserts + deletes + an update through one change
    feed): the final graph must equal the batch maintenance APIs applied
    in the same batch order, tombstoned ids must vanish everywhere, the
    re-embedded (update) vector must be retrievable under its NEW
    embedding, and full-corpus recall must hold."""
    from pyspark.sql import functions as F

    from mysteryann_spark.operators.evaluate import mean_recall
    from mysteryann_spark.operators.knn import knn_join_arrays
    from mysteryann_spark.operators.projection import (
        build_roargraph_from_table,
        delete_from_roargraph,
        insert_into_roargraph,
    )
    from mysteryann_spark.operators.search import search_graph
    from mysteryann_spark.params import IndexParams
    from mysteryann_spark.streaming.maintain import (
        stage_op_stream,
        stream_maintain_roargraph,
    )

    # the registered entry's params (queries/graph.py PARAMS) — the gate
    # must exercise exactly what roargraph_stream_maintain runs
    from mysteryann_spark.queries.graph import PARAMS as params

    assert params == IndexParams(
        M_sq=20, M_pjbp=8, L_pjpq=40, k=10, L_pq=40, metric="l2"
    )
    n = emb.count()
    old, ops, cut, v450_new, del_ids = _churn_feed(spark, emb)
    adj, ep = build_roargraph_from_table(spark, old, params)
    adj = adj.localCheckpoint()

    stream = stage_op_stream(spark, ops, str(tmp_path / "feed"))
    base_s, adj_s, ep_s, n_batches = stream_maintain_roargraph(
        spark, old.select("vec_id", "embedding"), adj, ep,
        stream, params, str(tmp_path / "ckpt"),
    )
    assert n_batches == 3

    # batch-API replay of the same feed, same order
    b_base = old.select("vec_id", "embedding").localCheckpoint()
    b_adj, b_ep = adj, ep
    for b in range(3):
        dels = ops.where((F.col("batch") == b) & (F.col("op") == "delete")).select("vec_id")
        ins = ops.where((F.col("batch") == b) & (F.col("op") == "insert")).select(
            "vec_id", "embedding"
        )
        if not dels.isEmpty():
            b_base, b_adj, b_ep = delete_from_roargraph(b_base, b_adj, b_ep, dels, params)
            b_base = b_base.localCheckpoint()
            b_adj = b_adj.localCheckpoint()
        if not ins.isEmpty():
            b_adj, b_ep = insert_into_roargraph(b_base, b_adj, b_ep, ins, params)
            b_base = b_base.unionByName(ins).localCheckpoint()
            b_adj = b_adj.localCheckpoint()
    assert b_ep == ep_s
    sa = {
        r["node"]: r["nbrs"]
        for r in adj_s.select("node", F.array_sort("nbrs").alias("nbrs")).collect()
    }
    ba = {
        r["node"]: r["nbrs"]
        for r in b_adj.select("node", F.array_sort("nbrs").alias("nbrs")).collect()
    }
    assert sa == ba

    # tombstones gone, survivors covered, cap held
    expect_ids = (set(range(n)) - set(del_ids))
    assert set(sa) == expect_ids
    assert all(nb not in set(del_ids) for nbrs in sa.values() for nb in nbrs)
    assert all(len(nbrs) <= params.degree_cap for nbrs in sa.values())

    # the update is live under its NEW embedding (exact self-match at rank 1)
    q_new = spark.createDataFrame([(int(cut), v450_new)], "qid bigint, embedding array<float>")
    top = search_graph(
        q_new, base_s, adj_s.localCheckpoint(), ep_s,
        k=1, l_search=params.L_pq, metric="l2",
    ).collect()
    assert top and top[0]["nn_id"] == cut

    # full-corpus recall over the final state
    q = base_s.select(F.col("vec_id").alias("qid"), "embedding")
    res = search_graph(q, base_s, adj_s, ep_s, k=10, l_search=params.L_pq, metric="l2")
    res_arr = (
        res.groupBy("qid")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "nn_id"))).alias("t"))
        .select("qid", F.transform("t", lambda x: x["nn_id"]).alias("nn"))
    )
    gt = knn_join_arrays(q, base_s, 10, "l2")
    recall = mean_recall(res_arr, gt, 10)
    assert recall >= 0.9, f"post-churn recall@10={recall}"


def test_stream_insert_chain_compaction_is_transparent(spark, emb, tmp_path, monkeypatch):
    """The adjacency/vector chain COMPACTION branch (len(chain) >=
    _ADJ_COMPACT_EVERY re-stages the merged state whole and resets
    both chains) must be invisible in the result: forcing compaction on
    every batch yields exactly the adjacency the default long-chain run
    produces, for an insert-only feed and for the churn feed of
    test_stream_maintain_churn_parity. A compaction after an insert
    re-stages the vector chain from the base, so the base must already
    hold that insert's vectors; otherwise the next batch's prune pool
    references ids absent from the base."""
    from pyspark.sql import functions as F

    from mysteryann_spark.operators.projection import build_roargraph_from_table
    from mysteryann_spark.queries.graph import PARAMS as params
    from mysteryann_spark.streaming import maintain
    from mysteryann_spark.streaming.maintain import (
        stage_op_stream,
        stream_maintain_roargraph,
    )

    def run(tag, old, ops, adj, ep):
        stream = stage_op_stream(spark, ops, str(tmp_path / f"cfeed_{tag}"))
        _, merged, _, nb = stream_maintain_roargraph(
            spark, old.select("vec_id", "embedding"), adj, ep,
            stream, params, str(tmp_path / f"cckpt_{tag}"),
        )
        assert nb == 3
        return {
            r["node"]: r["nbrs"]
            for r in merged.select(
                "node", F.array_sort("nbrs").alias("nbrs")
            ).collect()
        }

    n = emb.count()
    churn_old, churn_ops, _, _, del_ids = _churn_feed(spark, emb)
    for feed, (old, ops), n_nodes in (
        ("insert", _insert_feed(emb), n),
        ("churn", (churn_old, churn_ops), n - len(del_ids)),
    ):
        adj, ep = build_roargraph_from_table(spark, old, params)
        adj = adj.localCheckpoint()
        monkeypatch.setattr(maintain, "_ADJ_COMPACT_EVERY", 1)  # compact every batch
        compacted = run(f"{feed}_every", old, ops, adj, ep)
        monkeypatch.setattr(maintain, "_ADJ_COMPACT_EVERY", 64)  # never (3 batches)
        chained = run(f"{feed}_never", old, ops, adj, ep)
        assert compacted == chained and len(chained) == n_nodes, feed
