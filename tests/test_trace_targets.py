"""The benchmark's traced runs (``perfbench/run.py --trace 1``) wrap
engine functions by module attribute, listed in
``perfbench/tracing.py``'s ``GRAPH_TARGETS``. An engine refactor that
renames or stops binding one of them would break tracing silently; these
tests fail instead."""

import importlib
import importlib.util
import sys
from pathlib import Path

_TRACING = Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"


def _load_tracing():
    # by path: perfbench is not a package on the engine's import path;
    # the module imports only the standard library
    spec = importlib.util.spec_from_file_location("_perfbench_tracing", _TRACING)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve annotations here
    try:
        spec.loader.exec_module(mod)
    finally:
        del sys.modules[spec.name]
    return mod


def test_graph_trace_targets_exist_on_engine_modules():
    targets = _load_tracing().GRAPH_TARGETS
    assert targets
    missing = [
        (module, attr)
        for module, attr, _ in targets
        if not callable(getattr(importlib.import_module(module), attr, None))
    ]
    assert not missing, f"trace patch points gone from the engine: {missing}"


def test_graph_index_staging_resolves_through_search_module(monkeypatch):
    """The staging span wraps ``operators.search.stage_parquet``; the
    search path must call it through that module binding."""
    from mysteryann_spark.operators import search

    calls = []
    monkeypatch.setattr(search, "stage_parquet", lambda df, *a: calls.append(df) or "p")

    class _Frame:
        def select(self, *cols):
            return self

    assert search.stage_graph_index(_Frame(), _Frame()) == ("p", "p")
    assert len(calls) == 2


_EVENTLOG = _TRACING.with_name("eventlog.py")
_RUN = _TRACING.with_name("run.py")


def _udf_names(df) -> list[str]:
    """The Python UDF names perfbench's event-log reader takes from the
    ``MapInPandas`` nodes of ``df``'s physical plan (its ``_UDF_NAME``
    pattern over each node's simple string)."""
    spec = importlib.util.spec_from_file_location("_perfbench_eventlog", _EVENTLOG)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    try:
        spec.loader.exec_module(mod)
    finally:
        del sys.modules[spec.name]
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = [line.lstrip(" :+-") for line in plan.splitlines()]
    return [mod._UDF_NAME.match(n).group(1) for n in nodes if n.startswith("MapInPandas")]


def test_kernel_udf_names_match_the_trace_layers(spark):
    """A traced run attributes Python-worker time to a layer by the UDF
    name in the plan: ``local_topk`` feeds ``knn.kernel_s``,
    ``prune_batch`` the prune layer and ``run`` ``search.kernel_s``. A
    renamed kernel closure reads 0 there, and a staged task named like
    one of them lands in that layer. Each name is also checked against
    the benchmark's own mapping in ``perfbench/run.py``."""
    from pyspark.sql import functions as F

    from mysteryann_spark.operators.knn import knn_join
    from mysteryann_spark.operators.prune import prune_candidates
    from mysteryann_spark.operators.search import search_graph
    from mysteryann_spark.sources.staging import stage_parquet, staged_task

    layers = {"local_topk": "knn", "prune_batch": "prune", "run": "search"}
    run_src = _RUN.read_text()
    assert all(f'udf("{name}")' in run_src for name in layers), layers

    base = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(8)], "vec_id bigint, embedding array<double>"
    )
    q = base.select(F.col("vec_id").alias("qid"), "embedding")
    adj = spark.createDataFrame([(i, [(i + 1) % 8]) for i in range(8)], "node bigint, nbrs array<bigint>")
    pools = spark.createDataFrame([(i, (i + 1) % 8) for i in range(8)], "node bigint, cand_id bigint")

    def noop(tbl):
        yield from ()

    frames = {
        "knn_join": knn_join(q, base, 2),
        "prune_candidates": prune_candidates(pools, base, 2, "l2"),
        "search_graph": search_graph(q, base, adj, 0, k=2, l_search=4),
        "staged_task": staged_task(spark, stage_parquet(adj), noop, "node bigint"),
    }
    names = {fn: _udf_names(df) for fn, df in frames.items()}
    assert names["knn_join"] == ["local_topk"], names
    assert names["prune_candidates"] == ["prune_batch"], names
    assert names["search_graph"] == ["run"], names
    assert len(names["staged_task"]) == 1 and names["staged_task"][0] not in layers, names
