"""Spark event-log reader: rolls jobs, tasks and Python-UDF metrics up
per time window.

Spark writes one JSON object per line, in Spark 4.x into a rolling
``eventlog_v2_<app>/events_<n>_<app>`` directory. Compression must be
off (``spark.eventLog.compress=false``): the default zstd codec needs a
module this reader does not use.

What is read:

- ``SparkListenerJobStart`` / ``JobEnd``: job interval and its stages.
- ``SparkListenerTaskEnd``: per-task run / CPU / GC time, shuffle write,
  spill, launch and finish time, and the task's updates of SQL metric
  accumulators.
- ``SparkListenerSQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate``:
  the physical plan. Every plan node that carries Python-worker metrics
  (``MapInPandas``, ``MapInArrow``, ``ArrowEvalPython``, ...) maps its
  accumulator ids to the UDF name shown in the node's ``simpleString``.
  AQE re-sends the whole plan on every update, so the same node shows up
  many times; keying by accumulator id counts each node once, and values
  come from per-task updates, which Spark reports exactly once per task.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

# SQL metric names on Python-worker plan nodes, by the field they feed
_PY_METRICS = {
    "time to run Python workers": "run_ms",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "boot_ms",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "returned_b",
    "number of output rows": "out_rows",
}
_UDF_NAME = re.compile(r"^\S+\s+([A-Za-z_][\w.<>]*)\(")


@dataclass
class Udf:
    run_ms: float = 0.0
    boot_ms: float = 0.0
    sent_b: float = 0.0
    returned_b: float = 0.0
    out_rows: float = 0.0

    def add(self, other: "Udf") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None = None
    task_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0
    tasks: list[tuple[int, int]] = field(default_factory=list)
    udfs: dict[str, Udf] = field(default_factory=dict)


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: the parts of each rolling
    ``eventlog_v2_*`` directory in index order."""
    files: list[str] = []
    for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(d, "events_*"))
        files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return files


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def read_jobs(log_dir: str) -> list[Job]:
    """Parse every event file under ``log_dir`` into jobs, each carrying
    its tasks' sums and its Python-UDF metrics by UDF name."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    py_acc: dict[int, tuple[str, str]] = {}  # accumulator id -> (udf, field)
    task_ends: list[dict] = []
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"])
                    jobs[job.job_id] = job
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = job.job_id
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(ev)
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    for node in _walk(ev["sparkPlanInfo"]):
                        metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}
                        if "time to run Python workers" not in metrics:
                            continue
                        m = _UDF_NAME.match(node.get("simpleString", ""))
                        udf = m.group(1) if m else node.get("nodeName", "?")
                        for name, acc in metrics.items():
                            if name in _PY_METRICS:
                                py_acc[acc] = (udf, _PY_METRICS[name])
    for ev in task_ends:
        job = jobs.get(stage_job.get(ev["Stage ID"], -1))
        if job is None:
            continue
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        # slot occupancy: the finish time the driver records can lag the
        # slot's release, which would overcount concurrency
        busy = tm.get("Executor Deserialize Time", 0) + tm.get("Executor Run Time", 0)
        job.tasks.append((info["Launch Time"], min(info["Finish Time"], info["Launch Time"] + busy)))
        job.task_ms += tm.get("Executor Run Time", 0)
        job.cpu_ns += tm.get("Executor CPU Time", 0)
        job.gc_ms += tm.get("JVM GC Time", 0)
        job.shuffle_write_b += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        job.spill_b += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", ()):
            hit = py_acc.get(acc["ID"])
            if hit is None or "Update" not in acc:
                continue
            udf, fld = hit
            u = job.udfs.setdefault(udf, Udf())
            setattr(u, fld, getattr(u, fld) + float(acc["Update"]))
    return sorted(jobs.values(), key=lambda j: j.submit_ms)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _max_concurrent(intervals: list[tuple[int, int]]) -> int:
    edges = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals])
    best = cur = 0
    for _, d in edges:
        cur += d
        best = max(best, cur)
    return best


@dataclass
class Summary:
    """Rolled-up Spark work over a set of jobs within a wall window."""

    jobs: int = 0
    job_run_s: float = 0.0
    idle_s: float = 0.0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    max_concurrent_tasks: int = 0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    udfs: dict[str, Udf] = field(default_factory=dict)

    def udf(self, name: str) -> Udf:
        return self.udfs.get(name, Udf())

    def python(self) -> Udf:
        total = Udf()
        for u in self.udfs.values():
            total.add(u)
        return total


def summarize(jobs: list[Job], windows: list[tuple[float, float]]) -> Summary:
    """Roll up the jobs submitted inside any of ``windows`` (epoch
    seconds). ``idle_s`` is the windows' total wall minus the part any of
    those jobs was running."""
    win_ms = [(a * 1000.0, b * 1000.0) for a, b in windows]
    picked = [j for j in jobs if any(a <= j.submit_ms <= b for a, b in win_ms)]
    out = Summary(jobs=len(picked))
    running: list[tuple[float, float]] = []
    tasks: list[tuple[int, int]] = []
    for j in picked:
        end = j.end_ms if j.end_ms is not None else j.submit_ms
        running.append((j.submit_ms, end))
        tasks += j.tasks
        out.task_s += j.task_ms / 1e3
        out.cpu_s += j.cpu_ns / 1e9
        out.gc_s += j.gc_ms / 1e3
        out.shuffle_write_mb += j.shuffle_write_b / 2**20
        out.spill_mb += j.spill_b / 2**20
        for name, u in j.udfs.items():
            out.udfs.setdefault(name, Udf()).add(u)
    out.job_run_s = _union_ms(running) / 1e3
    # clip job intervals to the windows so idle never goes negative
    clipped = [(max(s, a), min(e, b)) for s, e in running for a, b in win_ms if s < b and e > a]
    wall_ms = sum(b - a for a, b in win_ms)
    out.idle_s = max(0.0, wall_ms - _union_ms(clipped)) / 1e3
    out.max_concurrent_tasks = _max_concurrent(tasks)
    return out
