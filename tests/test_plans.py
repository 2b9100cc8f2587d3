"""Optimizer audits: the declared plans must actually get Catalyst's
pushdown / pruning / broadcast treatment (SURVEY.md §4)."""

from mysteryann_spark.plans.inspect import (
    count_broadcast_joins,
    count_shuffles,
    pushed_filters,
    scan_read_schemas,
    wholestage_codegen_spans,
)
from mysteryann_spark.queries.registry import all_queries
from tests.conftest import SF_DIR


def test_flagship_plan_broadcasts_dims_and_prunes_columns(spark):
    df = all_queries()["flagship_revenue_by_nation"].fn(spark, SF_DIR)
    # 4 dims (orders/customer/nation/region) all broadcast against lineitem
    assert count_broadcast_joins(df) == 4
    # the lineitem scan reads only the referenced columns
    schemas = scan_read_schemas(df)
    fact = max(schemas, key=len)
    assert set(fact) <= {"l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"}
    # shipdate range predicate reached the scan
    assert any("l_shipdate" in f and "GreaterThan" in f for f in pushed_filters(df))
    assert wholestage_codegen_spans(df) >= 1


def test_pricing_summary_pushdown_and_single_shuffle(spark):
    df = all_queries()["pricing_summary"].fn(spark, SF_DIR)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # partial agg -> exchange on group keys -> final agg: exactly one shuffle
    assert count_shuffles(df) == 1


def test_filter_project_reads_minimal_schema(spark):
    df = all_queries()["filter_project"].fn(spark, SF_DIR)
    schemas = scan_read_schemas(df)
    assert schemas and all(len(s) <= 6 for s in schemas)
    assert pushed_filters(df)


def test_bucketed_join_has_no_exchange(spark):
    """Bucketed+sorted tables joined on the bucket key must sort-merge
    join with ZERO Exchange on either side — the shuffle was paid once at
    write time. This is the co-located-join contract bucketing exists
    for; a plan that re-shuffles means the bucket metadata was lost."""
    from mysteryann_spark.plans.inspect import formatted_plan
    from mysteryann_spark.queries.relational import bucketed_join_revenue
    from tests.conftest import SF_DIR

    df = bucketed_join_revenue(spark, SF_DIR)
    # audit the join subtree (the final groupBy agg legitimately shuffles)
    import re

    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan
    join_section = plan.split("HashAggregate")[-1]  # below the agg: join + scans
    assert "Exchange" not in join_section, join_section[:2000]
    # and the result itself must equal the plain shuffled join
    from mysteryann_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, "lineitem", SF_DIR)
    o = load_table(spark, "orders", SF_DIR)
    plain = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-9, 4
            ).alias("revenue"),
        )
    )
    got = {tuple(r) for r in df.collect()}
    want = {tuple(r) for r in plain.collect()}
    assert got == want


def test_new_entries_prune_and_avoid_cartesian(spark):
    """Round-3 entries: scans read only needed columns; no cartesian or
    nested-loop join anywhere in their plans."""
    from mysteryann_spark.plans.inspect import formatted_plan, scan_read_schemas
    from mysteryann_spark.queries.pipeline import (
        ann_filtered_topk,
        ann_range_search,
        doc_gopher_quality,
        pipeline_mix_sample,
    )
    from tests.conftest import SF_DIR

    g = doc_gopher_quality(spark, SF_DIR)
    for cols in scan_read_schemas(g):
        assert set(cols) <= {"doc_id", "text"}, cols
    m = pipeline_mix_sample(spark, SF_DIR)
    for cols in scan_read_schemas(m):
        assert set(cols) <= {"doc_id", "source"}, cols
    for df in (ann_filtered_topk(spark, SF_DIR), ann_range_search(spark, SF_DIR)):
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_round4_retrieval_entries_plan_shape(spark):
    """BM25/RRF/BPE-pairs: scans read only the referenced columns; the
    BM25 term filter lands before the tf aggregation (a join against the
    broadcast term list — no full-vocabulary shuffle); the RRF lexical
    side broadcasts the 5-row query set (the intended tiny-side
    nested-loop, bounded by |queries|, never |corpus|^2)."""
    from mysteryann_spark.plans.inspect import formatted_plan, scan_read_schemas
    from mysteryann_spark.queries.pipeline import (
        bpe_pair_counts,
        doc_bm25_topk,
        hybrid_rrf_topk,
    )
    from tests.conftest import SF_DIR

    b = doc_bm25_topk(spark, SF_DIR)
    for cols in scan_read_schemas(b):
        assert set(cols) <= {"doc_id", "text"}, cols
    plan = formatted_plan(b)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    p = bpe_pair_counts(spark, SF_DIR)
    for cols in scan_read_schemas(p):
        assert set(cols) <= {"text"}, cols

    r = hybrid_rrf_topk(spark, SF_DIR)
    rplan = formatted_plan(r)
    # the only nested-loop allowed is the broadcast of the <=5-row query
    # token sets; a non-broadcast cartesian would be the corpus-squared bug
    assert "CartesianProduct" not in rplan


def test_persisted_ivfpq_search_partition_prunes(spark, tmp_path):
    """A search through a loaded index reads the persisted index data
    only where it probes: both its scan of the cid-partitioned ``lists``
    (the base of the ADC list scan) and the rerank's scan of the
    cid-partitioned ``vectors`` carry a dynamic-partition-pruning
    expression. The pure-ADC search of an index saved without vectors
    matches the numpy reference search."""
    import re

    from pyspark.sql import functions as F

    from mysteryann_spark.operators.similarity import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from mysteryann_spark.plans.inspect import formatted_plan
    from mysteryann_spark.sources.ann_index_io import load_ivfpq, save_ivfpq
    from mysteryann_spark.sources.tables import load_table
    from tests.conftest import SF_TINY
    from tests.test_ann_index_io import check_search_against_reference

    base = load_table(spark, "embeddings", SF_TINY)
    index = build_ivfpq_index(base, n_centroids=8, m=8, n_codes=32)
    adc_path, vec_path = str(tmp_path / "idx"), str(tmp_path / "idx_vec")
    save_ivfpq(index, adc_path)
    save_ivfpq(index, vec_path, base_df=base)

    q = base.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")
    res = search_ivfpq_index(
        q, load_ivfpq(spark, vec_path), 3, n_probe=2, refine=5, base_df=None
    )
    assert res.count() > 0
    # the scans of index data read lists and vectors, each pruned by cid
    scans = [
        node
        for node in formatted_plan(res).split("\n\n")
        if re.search(rf"Location: \w+ \[[^\]]*{re.escape(vec_path)}/", node)
    ]
    assert {re.search(r"/(\w+)\]", node).group(1) for node in scans} == {"lists", "vectors"}
    for node in scans:
        assert re.search(r"PartitionFilters: \[.*dynamicpruning", node), node

    check_search_against_reference(spark, base, adc_path, n_probe=2)


def test_round4_sink_and_outlier_plan_shape(spark):
    """Shard manifest reads only (doc_id, text); outlier scoring reads
    only (vec_id, embedding); neither plan contains a cartesian product,
    and the outlier stats join is the intended broadcast."""
    from mysteryann_spark.plans.inspect import formatted_plan, scan_read_schemas
    from mysteryann_spark.queries.pipeline import (
        emb_outlier_zscore,
        pipeline_shard_manifest,
    )
    from tests.conftest import SF_DIR

    m = pipeline_shard_manifest(spark, SF_DIR)
    for cols in scan_read_schemas(m):
        assert set(cols) <= {"doc_id", "text"}, cols
    assert "CartesianProduct" not in formatted_plan(m)

    z = emb_outlier_zscore(spark, SF_DIR)
    for cols in scan_read_schemas(z):
        assert set(cols) <= {"vec_id", "embedding"}, cols
    zplan = formatted_plan(z)
    assert "BroadcastExchange" in zplan or "BroadcastHashJoin" in zplan


def test_image_features_plan_no_shuffle_minimal_scan(spark):
    """The bench-headline image path (synth wire bytes -> real decode ->
    features) is a pure mapInPandas chain: the documents scan reads only
    the generator's inputs and the WHOLE plan has zero shuffles — at
    100 TB the decode cost is the only cost."""
    from mysteryann_spark.plans.inspect import (
        count_shuffles,
        formatted_plan,
        scan_read_schemas,
    )
    from mysteryann_spark.queries.pipeline import multimodal_image_features
    from tests.conftest import SF_DIR

    f = multimodal_image_features(spark, SF_DIR)
    for cols in scan_read_schemas(f):
        assert set(cols) <= {"doc_id", "text", "n_chars"}, cols
    assert count_shuffles(f) == 0
    assert "CartesianProduct" not in formatted_plan(f)


def test_ivf_knn_join_plan_shape(spark, emb):
    """The sub-quadratic phase-0 join: the base side shuffles exactly once
    (the cid repartition — the partitioning a persisted IVF index stores),
    plus the (qid)-window merge; nothing quadratic, no cartesian, and the
    embeddings scan reads only (vec_id, embedding)."""
    from pyspark.sql import functions as F

    from mysteryann_spark.operators.knn_approx import ivf_knn_join
    from mysteryann_spark.plans.inspect import (
        count_shuffles,
        formatted_plan,
        scan_read_schemas,
    )

    q = emb.where("vec_id < 20").select(F.col("vec_id").alias("qid"), "embedding")
    res = ivf_knn_join(q, emb, 5, "l2", n_probe=4)
    for cols in scan_read_schemas(res):
        assert set(cols) <= {"vec_id", "embedding"}, cols
    # one Exchange for repartition(cid), one for the global top-k window
    assert count_shuffles(res) <= 2, formatted_plan(res)
    plan = formatted_plan(res)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round5_analytics_entries_plan_shape(spark):
    """Late round-5 entries: skew diagnostics must use the sort-free
    top-k operator (TakeOrderedAndProject) and broadcast the 1-row
    total, not full-sort or cartesian-join; transitions and quota
    sampling shuffle exactly once (the per-user / per-stratum window
    partitioning) and read only the referenced columns."""
    from mysteryann_spark.plans.inspect import (
        count_shuffles,
        formatted_plan,
        scan_read_schemas,
    )
    from mysteryann_spark.queries.events import events_transitions
    from mysteryann_spark.queries.pipeline import pipeline_quota_sample
    from mysteryann_spark.queries.relational import join_skew_topkeys

    s = join_skew_topkeys(spark, SF_DIR)
    plan = formatted_plan(s)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan  # the 1-row total is broadcast
    for cols in scan_read_schemas(s):
        assert set(cols) <= {"l_suppkey"}, cols

    t = events_transitions(spark, SF_DIR)
    # one Exchange for the user_id window; the 25-group count is map-side
    assert count_shuffles(t) <= 2, formatted_plan(t)
    for cols in scan_read_schemas(t):
        assert set(cols) <= {"event_id", "ts", "user_id", "event_type"}, cols

    q = pipeline_quota_sample(spark, SF_DIR)
    # two shuffles: the map-side-combined per-lang count (broadcast back,
    # so no join shuffle) and the per-stratum rank window
    assert count_shuffles(q) <= 2, formatted_plan(q)
    assert "CartesianProduct" not in formatted_plan(q)
    for cols in scan_read_schemas(q):
        assert set(cols) <= {"doc_id", "lang"}, cols


def test_round6_entries_plan_shape(spark):
    """Round-6 additions. emb_pca_variance: the only data-sized work is
    the one moment-partials pass (scan reads only the embedding column);
    everything after operates on the (d^2+d+1)-row combined vector, with
    the tiny sums/count sides broadcast — no real shuffle beyond the
    positionwise combine, no cartesian beyond the broadcast 1-row count.
    (roargraph_build_ivf's scale-critical stage — the phase-0 IVF join —
    is plan-audited in test_ivf_knn_join_plan_shape.)"""
    from mysteryann_spark.plans.inspect import (
        count_shuffles,
        formatted_plan,
        scan_read_schemas,
    )
    from mysteryann_spark.queries.pipeline import emb_pca_variance

    v = emb_pca_variance(spark, SF_DIR)
    for cols in scan_read_schemas(v):
        assert set(cols) <= {"embedding"}, cols
    # one Exchange for the positionwise moment combine; the i/j sum joins
    # and the 1-row count are broadcast
    assert count_shuffles(v) <= 2, formatted_plan(v)
    assert "CartesianProduct" not in formatted_plan(v)


def test_ivfpq_refine_broadcasts_survivors(spark):
    """LSH, PQ and IVF-PQ top-k must scan the full-precision base in
    place: with the planner's broadcast threshold off (a base too large
    to broadcast), the executed plan has no sort-merge join and no hash
    exchange of base rows (keyed on ``nn_id`` alone, or on LSH's
    ``lsh_bucket`` keys). A shuffled base here moves the WHOLE corpus per
    search call (the measured 10^8 probe-64 scratch exhaustion, SCALE.md
    r8). PQ and IVF-PQ finish in the one exact rerank, which broadcasts
    the survivors; LSH runs on the list scan and joins nothing. The
    exchanges left are the per-query rankings on qid."""
    import re

    from pyspark.sql import functions as F

    from mysteryann_spark.operators.similarity import (
        ivfpq_cosine_topk,
        lsh_cosine_topk,
        pq_cosine_topk,
    )
    from mysteryann_spark.sources.tables import load_table
    from tests.conftest import SF_TINY

    base = load_table(spark, "embeddings", SF_TINY)
    q = base.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")
    searches = {
        "lsh": lambda: lsh_cosine_topk(q, base, 3),
        "pq": lambda: pq_cosine_topk(q, base, 3, m=8, n_codes=32),
        "ivfpq": lambda: ivfpq_cosine_topk(
            q, base, 3, n_centroids=8, n_probe=4, m=8, n_codes=32
        ),
    }
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for name, search in searches.items():
            res = search()
            # collect, not count: the frame's own plan runs and is final
            assert res.collect(), name
            plan = res._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan, name
            if name != "lsh":
                assert "BroadcastHashJoin" in plan, f"{name}: rerank not broadcast"
            assert "SortMergeJoin" not in plan, f"{name}: a join shuffles the corpus"
            for keys in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
                cols = {re.sub(r"#\d+L?$", "", c.strip()) for c in keys.split(",")[:-1]}
                assert cols != {"nn_id"} and "lsh_bucket" not in cols, (
                    f"{name}: base rows exchanged on {sorted(cols)}"
                )
    finally:
        spark.conf.set(key, old)


def test_persisted_vectors_refine_partition_prunes(spark, tmp_path):
    """Reranking against the index's own persisted vectors must
    partition-prune the cid-partitioned vectors scan (the survivors
    broadcast drives dynamic pruning), so a search reads only the probed
    lists' vector partitions — never the whole corpus."""
    from pyspark.sql import functions as F

    from mysteryann_spark.operators.similarity import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from mysteryann_spark.sources.ann_index_io import load_ivfpq, save_ivfpq
    from mysteryann_spark.sources.tables import load_table
    from tests.conftest import SF_TINY

    base = load_table(spark, "embeddings", SF_TINY)
    index = build_ivfpq_index(base, n_centroids=8, m=8, n_codes=32)
    path = str(tmp_path / "idx")
    save_ivfpq(index, path, base_df=base)
    loaded = load_ivfpq(spark, path)
    q = base.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")
    res = search_ivfpq_index(q, loaded, 3, n_probe=2, refine=5, base_df=None)
    assert res.count() > 0
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "dynamicpruning" in plan.lower(), "vectors scan not partition-pruned"
