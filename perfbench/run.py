"""Benchmark entry point.

    python3 perfbench/run.py --workload graph_build --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (the directory holding
``mysteryann_spark/``). Prints progress to stderr, one ``info`` JSON line
(host and session facts) and, as the last line of stdout, the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones from spans and the Spark event log. See ``README.md`` beside this
file for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure_env(run_dir: str) -> None:
    """Host-derived launch settings, applied before the JVM starts so the
    driver JVM and the Python workers it forks inherit them."""
    os.environ["SPARK_GRAFT_CPUS"] = str(_host_cpus())
    # an eighth of host RAM for the driver JVM (the session default is a
    # fixed 24g, more than small hosts have): local mode runs every task
    # inside it, and the inputs here are small; the rest is for the
    # Python workers and the page cache
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1024, _host_mem_mb() // 8)}m"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR


# ---------------------------------------------------------------- memory


def _procs() -> dict[int, tuple[int, int, bytes]]:
    """pid -> (parent pid, resident kB, command name) of every process."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                comm, rest = f.read().split(b" (", 1)[1].rsplit(b")", 1)
        except (OSError, ValueError):
            continue
        fields = rest.split()
        out[int(name)] = (int(fields[1]), int(fields[21]) * page_kb, comm)
    return out


def subtree(root_pid: int, procs: dict) -> set[int]:
    """``root_pid`` and all its live descendants."""
    out, frontier = {root_pid}, {root_pid}
    while frontier:
        frontier = {p for p, (pp, _, _) in procs.items() if pp in frontier} - out
        out |= frontier
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of each process group this run starts — this
    driver process, the JVM, the Python daemon and workers — sampled
    every ``PERIOD_S``, for the ``info`` line and the traced metrics.
    Only a traced run samples: the scans hold the driver's GIL."""

    PERIOD_S = 0.2

    def __init__(self):
        super().__init__(name="rss-sampler", daemon=True)
        self.peak_kb = {"driver": 0, "jvm": 0, "workers": 0}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            procs = _procs()
            parts = {"driver": 0, "jvm": 0, "workers": 0}
            for pid in subtree(me, procs):
                if pid in procs:
                    _, kb, comm = procs[pid]
                    parts["driver" if pid == me else "jvm" if comm == b"java" else "workers"] += kb
            for k, v in parts.items():
                self.peak_kb[k] = max(self.peak_kb[k], v)
            self._stop_evt.wait(self.PERIOD_S)

    def stop(self) -> dict[str, float]:
        self._stop_evt.set()
        self.join(timeout=10)
        return {k: v / 1024.0 for k, v in self.peak_kb.items()}


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process it started: the live ones, and the ones that already ended
    and were waited for (counted in their parent's child times)."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    total = 0
    for pid in subtree(me, _procs()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs), seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- session


def start_spark(run_dir: str, trace: bool):
    from mysteryann_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no web UI: nothing reads it, and its server adds to session start
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # keep the JVM's temp files and perf-data file inside the run dir
        # (the first flag repeats the session's own driver option)
        "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true "
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    one started (JVM, Python daemon, workers) to end."""
    from pyspark import SparkContext

    kids = subtree(os.getpid(), _procs()) - {os.getpid()}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            return f.read().rsplit(b")", 1)[1].split()[0] == b"Z"
    except OSError:
        return True


# ---------------------------------------------------------------- metrics


def end_to_end(res, setup_s: float) -> dict:
    walls = [o.wall for o in res.timed()]
    return {
        "op_s": {"value": statistics.median(walls) if walls else 0.0, "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def per_layer(res, tracer, log_dir: str, cpus: int, parallelism: int, rss_mb: dict) -> dict:
    import eventlog
    import workloads

    traced = res.timed(traced=True)
    plain = res.timed(traced=False)
    n = max(1, len(traced))
    windows = [(o.start, o.end) for o in traced]
    jobs = eventlog.read_jobs(log_dir)
    s = eventlog.summarize(jobs, windows)
    py = s.python()
    m: dict[str, tuple[float, str]] = {
        "spark.jobs": (s.jobs / n, "count"),
        "spark.job_run_s": (s.job_run_s / n, "s"),
        "spark.driver_idle_s": (s.idle_s / n, "s"),
        "spark.task_s": (s.task_s / n, "s"),
        "spark.cpu_s": (s.cpu_s / n, "s"),
        "spark.gc_s": (s.gc_s / n, "s"),
        "spark.max_concurrent_tasks": (s.max_concurrent_tasks, "count"),
        "spark.shuffle_write_mb": (s.shuffle_write_mb / n, "MB"),
        "spark.spill_mb": (s.spill_mb / n, "MB"),
        "spark.python_boot_s": (py.boot_ms / 1e3 / n, "s"),
        "spark.python_sent_mb": (py.sent_b / 2**20 / n, "MB"),
        "spark.python_returned_mb": (py.returned_b / 2**20 / n, "MB"),
        "spark.cpus": (cpus, "count"),
        "spark.default_parallelism": (parallelism, "count"),
    }
    calls, wall, distances = tracer.total("knn", windows)
    m["knn.calls"] = (calls / n, "count")
    m["knn.driver_s"] = (wall / n, "s")
    m["knn.kernel_s"] = (s.udf("local_topk").run_ms / 1e3 / n, "s")
    m["knn.distances"] = (distances / n, "count")
    prune = s.udf("prune_batch")
    m["prune.calls"] = (tracer.total("prune", windows)[0] / n, "count")
    m["prune.kernel_s"] = (prune.run_ms / 1e3 / n, "s")
    m["prune.sent_mb"] = (prune.sent_b / 2**20 / n, "MB")
    m["prune.out_rows"] = (prune.out_rows / n, "count")
    m["search.calls"] = (tracer.total("search", windows)[0] / n, "count")
    m["search.kernel_s"] = (s.udf("run").run_ms / 1e3 / n, "s")
    m["search.cmps_per_query"] = (res.extra.get("cmps_per_query", 0.0), "count")
    m["search.hops_per_query"] = (res.extra.get("hops_per_query", 0.0), "count")
    m["search.recall_at_10"] = (res.extra.get("recall_at_10", 0.0), "fraction")
    builds = [(sp.start, sp.end) for sp in tracer.spans if sp.name == "build"]
    b = eventlog.summarize(jobs, builds) if builds else eventlog.Summary()
    m["build.driver_s"] = (sum(e - a for a, e in builds) / n, "s")
    m["build.jobs"] = (b.jobs / n, "count")
    m["build.idle_s"] = (b.idle_s / n, "s")
    m["repair.unreached"] = (tracer.total("repair", windows)[2] / n, "count")
    calls, wall, mb = tracer.total("staging", windows)
    m["staging.calls"] = (calls / n, "count")
    m["staging.s"] = (wall / n, "s")
    m["staging.mb"] = (mb / n, "MB")
    per_query = res.extra.get("per_query", {})
    for q in workloads.PIPELINE_QUERIES:
        marks = per_query.get(q, [])
        qs = eventlog.summarize(jobs, [(a, c) for a, _, c in marks]) if marks else eventlog.Summary()
        k = max(1, len(marks))
        m[f"query.{q}.s"] = (sum(c - a for a, _, c in marks) / k, "s")
        m[f"query.{q}.construct_s"] = (sum(b_ - a for a, b_, _ in marks) / k, "s")
        m[f"query.{q}.jobs"] = (qs.jobs / k, "count")
        m[f"query.{q}.idle_s"] = (qs.idle_s / k, "s")
        m[f"query.{q}.kernel_s"] = (qs.python().run_ms / 1e3 / k, "s")
    overhead = 0.0
    if traced and plain:
        overhead = statistics.median(o.wall for o in traced) - statistics.median(o.wall for o in plain)
    m["trace.overhead_s"] = (overhead, "s")
    for part in ("driver", "jvm", "workers"):
        m[f"mem.{part}_peak_mb"] = (rss_mb[part], "MB")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


# ---------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mysteryann_spark", "__init__.py")):
        print(f"perfbench: no mysteryann_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    runs_root = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=runs_root)
    sampler = RssSampler() if args.trace else None
    spark = None
    try:
        configure_env(run_dir)
        steal0 = _steal_s()
        if sampler is not None:
            sampler.start()
        t0 = time.time()
        spark = start_spark(run_dir, bool(args.trace))
        session_s = time.time() - t0
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark.sparkContext)
        ctx = workloads.Context(spark, run_dir, args.seed, args.seconds, tracer, tree_cpu_s)
        res = workloads.WORKLOADS[args.workload](ctx)
        parallelism = spark.sparkContext.defaultParallelism
        rss_parts = sampler.stop() if sampler is not None else {}
        stop_spark(spark)
        spark = None
        print(json.dumps({
            "info": {
                "workload": args.workload,
                "seed": args.seed,
                "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
                "driver_mem": os.environ["SPARK_DRIVER_MEM"],
                "default_parallelism": parallelism,
                "session_s": round(session_s, 3),
                "op_walls_s": [round(o.wall, 3) for o in res.ops],
                "op_cpu_s": [round(o.cpu, 3) for o in res.ops],
                "rss_peak_mb": {k: round(v) for k, v in rss_parts.items()},
                "steal_s": round(_steal_s() - steal0, 2),
                **{k: v for k, v in res.extra.items() if isinstance(v, float)},
            }
        }))
        if not res.ops:
            metrics = None
        elif args.trace:
            metrics = per_layer(res, tracer, os.path.join(run_dir, "eventlog"),
                                int(os.environ["SPARK_GRAFT_CPUS"]), parallelism, rss_parts)
        else:
            metrics = end_to_end(res, session_s + res.setup_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs_root)
        except OSError:
            pass
    if metrics is None:
        print("perfbench: no op succeeded", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
