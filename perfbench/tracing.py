"""Spans around the engine's public layer functions, recorded from the
benchmark's own files (the engine itself is not modified).

A traced run patches the module attributes the engine resolves at call
time with wrappers. Each wrapper is a span: it records its wall and sets
Spark's job description to its own name for the duration of the call, so
any job submitted eagerly inside the call is labelled with the span's
name in the Spark UI and the event log. Spans nest per thread; on exit
the previous description is restored. Metrics are attributed to a span
by its time window (see ``eventlog.py``), not by that label.
"""

from __future__ import annotations

import functools
import importlib
import os
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute, span name) for every layer entry point the graph
# build and search reach. ``stage_parquet`` is bound under three module
# names (each module imports it by name), so each binding is wrapped.
GRAPH_TARGETS = (
    ("mysteryann_spark.operators.projection", "knn_join_arrays", "knn"),
    ("mysteryann_spark.operators.projection", "prune_candidates", "prune"),
    ("mysteryann_spark.operators.projection", "medoid", "medoid"),
    ("mysteryann_spark.operators.projection", "repair_reachability", "repair"),
    ("mysteryann_spark.operators.search", "search_graph", "search"),
    ("mysteryann_spark.sources.staging", "stage_parquet", "staging"),
    ("mysteryann_spark.operators.knn", "stage_parquet", "staging"),
    ("mysteryann_spark.operators.search", "stage_parquet", "staging"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    value: float = 0.0  # span-specific size: staged MB, unreached nodes, distances


@dataclass
class Tracer:
    """Collects spans in memory. ``known_rows`` maps ``id(DataFrame)`` to
    its row count for frames the benchmark created, so the knn span can
    count distance computations without running a job."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    known_rows: dict[int, int] = field(default_factory=dict)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        self.sc.setJobDescription(name)
        rec = Span(name, time.time(), 0.0)
        try:
            yield rec
        finally:
            rec.end = time.time()
            stack.pop()
            self.sc.setJobDescription(parent)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module: str, attr: str, name: str) -> None:
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        measure = _MEASURES.get(name)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if measure is not None:
                    rec.value = measure(self, args, out)
                return out

        setattr(mod, attr, traced)
        self._patched.append((mod, attr, orig))

    @property
    def installed(self) -> bool:
        return bool(self._patched)

    def install(self) -> None:
        for module, attr, name in GRAPH_TARGETS:
            self.wrap(module, attr, name)

    def uninstall(self) -> None:
        while self._patched:
            mod, attr, orig = self._patched.pop()
            setattr(mod, attr, orig)

    def total(self, name: str, windows: list[tuple[float, float]]) -> tuple[int, float, float]:
        """(calls, summed wall s, summed value) of ``name`` spans that
        started inside any window."""
        hits = [s for s in self.spans if s.name == name and any(a <= s.start <= b for a, b in windows)]
        return len(hits), sum(s.end - s.start for s in hits), sum(s.value for s in hits)


def _dir_mb(path: str) -> float:
    size = 0
    for root, _, files in os.walk(path):
        size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return size / 2**20


def _staged_mb(tracer: Tracer, args: tuple, out: str) -> float:
    return _dir_mb(out)


def _unreached(tracer: Tracer, args: tuple, out: tuple) -> float:
    return float(out[1])


def _distances(tracer: Tracer, args: tuple, out) -> float:
    n_q = tracer.known_rows.get(id(args[0]), 0)
    n_b = tracer.known_rows.get(id(args[1]), 0)
    return float(n_q) * float(n_b)


_MEASURES: dict[str, Callable] = {
    "staging": _staged_mb,
    "repair": _unreached,
    "knn": _distances,
}
