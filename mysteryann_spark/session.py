"""SparkSession factory: ``local[N]`` over the CPUs this process may run
on by default, but shaped for a multi-executor cluster: AQE on (runtime
re-plan, skew-join splitting, partition coalescing), Arrow on (pandas-UDF
hot paths), UTC session time (matches the DuckDB oracle's naive-UTC
timestamps).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


# Ceiling of the host-derived driver-memory default (the former fixed default).
_DRIVER_MEM_CAP_MB = 24 * 1024

# Entries of Spark's generated-class cache (spark.sql.codegen.cache.maxEntries,
# default 100). One long session re-runs the same plans: running all 118
# registry entries at sf0.01 generates 1,753 distinct classes, and one
# pipeline pass of 13 queries ~180, so at the default every repeat pass
# recompiled ~176 identical classes and the JIT warmed each one up again.
# At 4096 a plan compiles once per session; the whole registry's classes
# cost ~11 MB of metaspace.
_CODEGEN_CACHE_ENTRIES = 4096


def usable_cpus() -> int:
    """CPUs this process may run on: its affinity mask, which a cgroup
    cpuset or ``taskset`` narrows below the host's count (what ``nproc``
    prints). Falls back to ``os.cpu_count()`` where the mask cannot be
    read (non-Linux hosts), and to 4 when that is unknown too."""
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 4


def host_mem_mb(meminfo: str = "/proc/meminfo") -> int | None:
    """The host's ``MemTotal`` in MB; None when ``meminfo`` is unreadable
    (non-Linux hosts)."""
    try:
        with open(meminfo) as f:
            return next(int(ln.split()[1]) // 1024 for ln in f if ln.startswith("MemTotal:"))
    except (OSError, ValueError, IndexError, StopIteration):
        return None


def worker_mem_mb() -> int | None:
    """The Python workers' share of host memory in MB: half of
    ``MemTotal`` (the driver JVM takes the other half, see
    ``default_driver_memory``). Operators that build a host-resident
    artifact refuse inputs whose artifact would exceed it; None off
    Linux (no ceiling)."""
    mem_mb = host_mem_mb()
    return mem_mb and mem_mb // 2


def driver_mem_mb(spark: SparkSession) -> int:
    """``spark.driver.memory`` of a running session in MB, parsed by
    Spark's own byte-string rules (no job)."""
    conf = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    return int(spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsMb(conf))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` default derived from the host: half of
    ``MemTotal`` (local mode runs every task inside the driver JVM, and
    the Python workers need the other half), at least 1g and at most
    24g. A fixed 24g on a smaller host lets the heap outgrow physical
    memory, so the kernel OOM-kills the process instead of Spark raising
    a legible error. Falls back to 24g when ``meminfo`` is unreadable
    (non-Linux hosts). ``SPARK_DRIVER_MEM`` overrides it in ``get_spark``."""
    total_mb = host_mem_mb(meminfo) or 2 * _DRIVER_MEM_CAP_MB
    return f"{min(_DRIVER_MEM_CAP_MB, max(1024, total_mb // 2))}m"


def skip_unchanged_zip_rereads() -> None:
    """Make ``importlib.invalidate_caches()`` skip zip archives that have
    not changed since the importer last read them.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``). Before Python 3.12 each
    ``zipimport.zipimporter.invalidate_caches`` re-reads its archive's
    whole directory in pure Python, and a worker holds ~14 of them (one
    for ``pyspark.zip`` and one per pyspark subpackage, two for the
    spark-core jar): 0.13-0.37 s of CPU per task on a 4-core VM, before
    the UDF runs. The wrapper keeps the archive's ``(st_mtime_ns,
    st_size, st_ino)`` on the importer and returns early while that stat
    is unchanged; a changed or failing stat runs the original re-read,
    so a rewritten archive is never served stale. The stat is taken
    before the re-read: a write racing the read leaves an old stamp and
    the next call reads again. Python 3.12+ repopulates the cache lazily
    and is left alone. Called once when the package is imported, which
    every Python worker does when it unpickles an engine UDF, so each
    worker pays the full re-read on its first task only. Idempotent."""
    if sys.version_info >= (3, 12):
        return
    import functools
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if hasattr(reread, "__wrapped__"):
        return

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except (OSError, ValueError):
            stamp = None
        if stamp is None or getattr(self, "_archive_stamp", None) != stamp:
            reread(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def get_spark(
    app_name: str = "mysteryann-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", usable_cpus()))
    # One BLAS thread per Python worker: the numpy kernels (GEMM in the
    # kNN join, einsum in the beam search) run in ~cpus parallel workers
    # already — letting each spawn its own cpu-wide OpenBLAS pool
    # oversubscribes cores ~cpus-fold and makes wall time erratic
    # (measured 5x swings on the graph build). Workers inherit the
    # driver's env in local mode; spark.executorEnv covers cluster mode.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # local[N] pins spark.task.maxFailures to 1 — one Python-worker flake
    # (a fork hiccup, a transient OOM kill) aborts the whole job, which at
    # rehearsal walls means losing an hour of build to one lost task
    # (measured: a 47-min 10^8 IVF-PQ build died to a single worker crash).
    # A cluster allows 4 ATTEMPTS by default (spark.task.maxFailures=4);
    # local[N,F]'s F is that same max-attempts count, NOT a retry count —
    # so F=4 matches the cluster posture (F=2 would give only one retry).
    # Retries re-run the same deterministic task, so results are unchanged;
    # a DETERMINISTIC worker crash still fails after F attempts.
    # SPARK_MASTER replaces the whole master string, retries included.
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus},4]"))
        # At cluster scale shuffle_partitions is sized to data volume; locally
        # ~cores avoids 200-way over-parallelism on tiny inputs.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # defaultJavaOptions goes in front of extraJavaOptions, so a caller's
        # extra_conf for the latter adds JVM flags instead of dropping these
        .config("spark.driver.defaultJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # SPARK_GRAFT_SPARK_CONF="k=v;k=v" — run-scoped config without code
    # changes. The scale rehearsals use it for spark.io.compression.codec=
    # zstd (the candidate shuffles are sorted-int-heavy: zstd roughly
    # halves their on-disk size vs lz4, and single-host disk is the
    # rehearsal's binding constraint) and a tighter
    # spark.cleaner.periodicGC.interval so finished shuffles actually get
    # deleted during a multi-phase build instead of at the default
    # 30-minute tick.
    for pair in os.environ.get("SPARK_GRAFT_SPARK_CONF", "").split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    # Reclaim stage scratch leaked by DEAD sessions (OOM-killed drivers
    # never run atexit; measured on this box: 4,791 leaked dirs / 45 GB).
    # OWNER-checked — a live session's scratch is never touched. Failures
    # are swallowed: scratch GC must never fail a session start.
    try:
        from mysteryann_spark.sources.staging import sweep_stage_scratch

        sweep_stage_scratch()
    except Exception:
        pass
    return spark


def spread(df, min_partitions: int | None = None):
    """Repartition a frame UP to the cluster's parallelism if it arrives
    under-partitioned — a small parquet file reads as one partition, which
    would serialize every downstream mapInPandas kernel onto one core. At
    real scale inputs already have >= cores partitions and this is a
    no-op; the check costs plan analysis only, no job.

    Measured note (sf0.1, local[32]): applying this inside the vector
    operators REGRESSED the bench ~20% — the repartition shuffle plus
    extra Python workers cost more than the single-task GEMM it
    parallelized. Callers should invoke it only when per-partition kernel
    work is large enough to amortize a shuffle (rule of thumb: >= seconds
    of compute per partition), which is the 100 TB regime, not the test
    rig's.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Ceiling for FORCED broadcast hints sized by a caller-side estimate.
# Spark hard-fails any broadcast over 8 GB ("Cannot broadcast the table
# that is larger than 8GB"), and a driver/executor must also hold the
# built hash relation — so the ceiling stays well under the hard limit.
_BCAST_CEILING_BYTES = 2048 * 1024 * 1024


def broadcast_if_under(df, est_bytes: float):
    """``F.broadcast`` hint gated on a caller-side size ESTIMATE.

    The iterative operators hint their per-round small sides explicitly
    because the planner only sees stats estimates for checkpointed loop
    state (scale hazard #9: a sort-merge pick re-shuffles the full static
    side every round). But a forced hint bypasses the planner's own size
    guard, and past ~8 GB the job hard-fails where the unhinted plan was
    merely slow — so every forced hint routes through this gate: above
    the ceiling the caller's conservative upper-bound estimate says the
    "small" side isn't, and the planner keeps the (correct) exchange."""
    from pyspark.sql import functions as F

    if est_bytes <= _BCAST_CEILING_BYTES:
        return F.broadcast(df)
    return df


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin session timezone to UTC on an externally-created session.

    ``spark.sql.session.timeZone`` is a runtime conf, so this is safe on a
    session we didn't build (the driver's verify harness creates its own).
    Timestamp-bucketing queries call this so string renderings match the
    DuckDB oracle, which reads parquet timestamps as naive UTC.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
