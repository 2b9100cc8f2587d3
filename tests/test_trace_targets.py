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
