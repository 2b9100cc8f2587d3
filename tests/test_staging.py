"""Unit tests for the Arrow-offsets CSR builder (sources/staging.py) —
pure pyarrow/numpy, no Spark session needed."""

import numpy as np
import pyarrow as pa

from mysteryann_spark.sources.staging import table_csr


def _tbl(nodes, nbrs):
    return pa.table(
        {
            "node": pa.array(nodes, type=pa.int64()),
            "nbrs": pa.array(nbrs, type=pa.list_(pa.int64())),
        }
    )


def test_csr_aligned_to_sorted_ids():
    ids = np.array([10, 20, 30], dtype=np.int64)
    # table rows deliberately out of id order; CSR must align to ids order
    tbl = _tbl([30, 10], [[10, 20], [30]])
    indptr, indices = table_csr(tbl, ids)
    assert indptr.tolist() == [0, 1, 1, 3]  # 10 -> [30]; 20 -> []; 30 -> [10, 20]
    assert indices.tolist() == [2, 0, 1]


def test_csr_drops_unknown_nodes_and_neighbors():
    ids = np.array([1, 2], dtype=np.int64)
    tbl = _tbl([1, 99], [[2, 77, 1], [1]])  # node 99 and neighbor 77 unknown
    indptr, indices = table_csr(tbl, ids)
    assert indptr.tolist() == [0, 2, 2]
    assert indices.tolist() == [1, 0]  # within-list order preserved


def test_csr_empty_adjacency():
    ids = np.array([5], dtype=np.int64)
    indptr, indices = table_csr(_tbl([], []), ids)
    assert indptr.tolist() == [0, 0]
    assert len(indices) == 0


def test_csr_dense_identity_ids():
    ids = np.arange(4, dtype=np.int64)
    tbl = _tbl([0, 3], [[1, 2], [0]])
    indptr, indices = table_csr(tbl, ids)
    assert indptr.tolist() == [0, 2, 2, 2, 3]
    assert indices.tolist() == [1, 2, 0]


def test_table_ragged_reorders_and_handles_empties():
    """CSR loader must id-sort rows, preserve within-list order through
    the reordering gather, and represent empty lists as zero-width
    segments."""
    import numpy as np
    import pyarrow as pa

    from mysteryann_spark.sources.staging import table_ragged

    tbl = pa.table(
        {
            "rep": pa.array([30, 10, 20, 40], type=pa.int64()),
            "htok": pa.array(
                [[7, 8, 9], [1, 2], [], [5]], type=pa.list_(pa.int64())
            ),
        }
    )
    ids, indptr, flat = table_ragged(tbl, "rep", "htok")
    assert list(ids) == [10, 20, 30, 40]
    assert list(indptr) == [0, 2, 2, 5, 6]
    assert list(flat) == [1, 2, 7, 8, 9, 5]
    # chunked input (multiple record batches) must behave identically
    tbl2 = pa.concat_tables([tbl.slice(0, 2), tbl.slice(2)])
    ids2, indptr2, flat2 = table_ragged(tbl2, "rep", "htok")
    assert list(ids2) == list(ids)
    assert list(indptr2) == list(indptr)
    assert list(flat2) == list(flat)
    with np.errstate(all="raise"):  # empty table edge
        e = pa.table({"rep": pa.array([], type=pa.int64()),
                      "htok": pa.array([], type=pa.list_(pa.int64()))})
        ids3, indptr3, flat3 = table_ragged(e, "rep", "htok")
        assert len(ids3) == 0 and list(indptr3) == [0] and len(flat3) == 0


def test_staged_matrix_later_paths_override(spark):
    """StagedBase incremental semantics: the concatenated matrix resolves
    duplicate ids to the LATEST path's row (delete-then-reinsert update),
    keeps superset rows, and stays id-sorted."""
    import numpy as np

    from mysteryann_spark.sources.staging import StagedBase, staged_matrix

    d0 = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [2.0, 2.0]), (3, [3.0, 3.0])],
        "vec_id long, embedding array<float>",
    )
    sb = StagedBase.of(d0)
    sb.append(
        spark.createDataFrame(
            [(2, [9.0, 9.0]), (4, [4.0, 4.0])],
            "vec_id long, embedding array<float>",
        )
    )
    ids, mat = staged_matrix(sb.paths, "vec_id", "embedding")
    assert ids.tolist() == [1, 2, 3, 4]
    np.testing.assert_allclose(mat[1], [9.0, 9.0])  # later path wins
    np.testing.assert_allclose(mat[3], [4.0, 4.0])


def _lock_is_free(d):
    """True when nobody holds the key lock of artifact dir ``d``."""
    import fcntl
    import os

    fd = os.open(d + ".lock", os.O_RDWR | os.O_CREAT)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        return True
    except BlockingIOError:
        return False
    finally:
        os.close(fd)


def test_shared_build_roundtrip_and_noshare(tmp_path, monkeypatch):
    """Host sharing: a tuple-of-ndarrays artifact is materialized once as
    .npy files and handed back as read-only maps (a second load never
    calls build again); non-shareable artifacts fall through to a private
    build with a NOSHARE marker."""
    import os

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return np.arange(6, dtype=np.int64), np.ones((3, 2), dtype=np.float32)

    got = staging._shared_build("k1", build)
    assert calls["n"] == 1
    assert isinstance(got[1].base, np.memmap) and got[1].dtype == np.float32
    assert not got[1].flags.writeable
    np.testing.assert_array_equal(got[0], np.arange(6))
    # a second worker (fresh process would have an empty _CACHE): build not re-run
    got2 = staging._shared_build("k1", build)
    assert calls["n"] == 1
    np.testing.assert_array_equal(got2[1], np.ones((3, 2)))

    # non-shareable (None / dict-bearing) artifacts: private build + NOSHARE
    assert staging._shared_build("k2", lambda: None) is None
    assert os.path.exists(os.path.join(staging._shared_dir("k2"), "NOSHARE"))
    assert staging._shared_build("k2", lambda: {"x": 1}) == {"x": 1}

    # object-dtype arrays must not be mmap-shared (np.load can't map them)
    obj_arr = (np.array(["a", None], dtype=object),)
    out = staging._shared_build("k3", lambda: obj_arr)
    assert out[0].dtype == object
    assert _lock_is_free(staging._shared_dir("k3"))


def test_shared_build_deterministic_failure_bounded(tmp_path, monkeypatch):
    """A failing build costs exactly one attempt per call: the exception
    propagates, the lock is released and no marker is left, so the next
    call retries (Spark's task retries bound the total). A key that
    later builds cleanly is shared as usual."""
    import os

    import numpy as np
    import pytest

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))

    boom = {"n": 0}

    def bad():
        boom["n"] += 1
        raise RuntimeError("deterministic boom")

    d = staging._shared_dir("kfail")
    for i in range(3):
        with pytest.raises(RuntimeError):
            staging._shared_build("kfail", bad)
        assert boom["n"] == i + 1
        assert _lock_is_free(d)
        assert not os.path.exists(os.path.join(d, "NOSHARE"))
        assert not os.path.exists(os.path.join(d, "MANIFEST.json"))
    calls = {"n": 0}

    def good():
        calls["n"] += 1
        return (np.zeros(2),)

    out = staging._shared_build("kfail", good)
    assert calls["n"] == 1
    assert isinstance(out[0].base, np.memmap)


_RACE_CHILD = r"""
import hashlib, os, sys, time
import numpy as np
from mysteryann_spark.sources import staging

count_file, go_file = sys.argv[1], sys.argv[2]

def build():
    with open(count_file, "a") as f:
        f.write(f"{os.getpid()}\n")
    time.sleep(0.5)  # hold the lock long enough for every racer to queue
    rng = np.random.default_rng(7)
    return rng.integers(0, 1 << 40, 1000), rng.standard_normal((200, 16))

open(f"{go_file}.ready-{os.getpid()}", "w").close()
while not os.path.exists(go_file):
    time.sleep(0.005)
out = staging._shared_build("race-key", build)
h = hashlib.sha256()
for a in out:
    h.update(str((a.dtype.str, a.shape)).encode())
    h.update(np.ascontiguousarray(a).tobytes())
print(h.hexdigest())
"""


def _child_env(tmp_path):
    import os

    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
    return env


def test_shared_build_once_across_racing_processes(tmp_path):
    """Four processes racing one key: exactly one builds, and all four get
    bit-identical arrays (the kernel lock serializes build and load)."""
    import hashlib
    import subprocess
    import sys
    import time

    import numpy as np

    count_file = tmp_path / "builds.txt"
    go_file = tmp_path / "go"
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACE_CHILD, str(count_file), str(go_file)],
            env=_child_env(tmp_path),
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(4)
    ]
    deadline = time.time() + 60
    while len(list(tmp_path.glob("go.ready-*"))) < 4:
        assert time.time() < deadline, "racers never became ready"
        time.sleep(0.01)
    go_file.write_text("")
    digests = [p.communicate(timeout=120)[0].strip() for p in procs]
    assert all(p.returncode == 0 for p in procs)
    assert len(count_file.read_text().splitlines()) == 1
    rng = np.random.default_rng(7)
    h = hashlib.sha256()
    for a in (rng.integers(0, 1 << 40, 1000), rng.standard_normal((200, 16))):
        h.update(str((a.dtype.str, a.shape)).encode())
        h.update(a.tobytes())
    assert digests == [h.hexdigest()] * 4


_KILLED_CHILD = r"""
import os, sys, time
import numpy as np
from mysteryann_spark.sources import staging

started = sys.argv[1]

def stall(*args, **kwargs):
    # the .npy files are written and the manifest file is open:
    # the build is killed here, mid-publish
    open(started, "w").close()
    time.sleep(600)

staging.json.dump = stall
staging._shared_build("killed-key", lambda: (np.full(5, -1, dtype=np.int64),))
"""


def test_shared_build_recovers_from_killed_builder(tmp_path, monkeypatch):
    """A builder SIGKILLed while holding the key lock, mid-publish (npy
    files written, manifest empty): the kernel drops its lock, so the
    next caller rebuilds at once — no heartbeat timeout to wait out —
    and never trusts the torn publish."""
    import os
    import signal
    import subprocess
    import sys
    import time

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    started = tmp_path / "started"
    child = subprocess.Popen(
        [sys.executable, "-c", _KILLED_CHILD, str(started)],
        env=_child_env(tmp_path),
    )
    try:
        deadline = time.time() + 60
        while not started.exists():
            assert child.poll() is None, "builder exited before stalling"
            assert time.time() < deadline, "builder never reached the publish"
            time.sleep(0.02)
        d = staging._shared_dir("killed-key")
        assert not _lock_is_free(d)
    finally:
        child.send_signal(signal.SIGKILL)
        child.wait()

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return (np.arange(5, dtype=np.int64),)

    t0 = time.time()
    got = staging._shared_build("killed-key", build)
    assert time.time() - t0 < 5
    assert calls["n"] == 1
    np.testing.assert_array_equal(got[0], np.arange(5))
    assert isinstance(got[0].base, np.memmap)
    assert os.path.getsize(os.path.join(d, "MANIFEST.json")) > 0


def test_shared_scratch_lands_under_spark_local_dirs(tmp_path, monkeypatch, spark):
    """Shared artifacts live under the first SPARK_LOCAL_DIRS entry (the
    temp dir when it is unset), and a Python worker sees its Spark
    application's blockmgr dir there — scratch Spark deletes on stop()."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from mysteryann_spark.sources import staging

    first, second = tmp_path / "local0", tmp_path / "local1"
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{first},{second}")
    staging._CACHE.clear()
    staging.load_staged("where-key", lambda: (np.arange(3),))
    d = staging._shared_dir("where-key")
    assert os.path.dirname(d) == str(first)
    assert os.path.exists(os.path.join(d, "MANIFEST.json"))
    assert not second.exists()

    monkeypatch.delenv("SPARK_LOCAL_DIRS")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path / "tmp"))
    assert staging._shared_root() == str(tmp_path / "tmp")
    staging._CACHE.clear()

    def worker_root(batches):
        from mysteryann_spark.sources import staging as st

        for _ in batches:
            yield pd.DataFrame({"root": [st._shared_root()]})

    roots = {
        r.root for r in spark.range(1).mapInPandas(worker_root, "root string").collect()
    }
    assert len(roots) == 1
    assert os.path.basename(roots.pop()).startswith("blockmgr-")


def test_shared_scratch_gc_bounded_across_compactions(tmp_path, monkeypatch):
    """Publish-time scratch GC: a maintenance chain that keeps stepping
    (and periodically COMPACTS — new chain, lineage break) must leave a
    BOUNDED number of mysteryann-shared-* generations on host scratch,
    not one ~5 GB npy set per step (the r7 SCALE.md manual-clean debt).
    Lineage unlinks the grandparent each publish (keep exactly one
    prior); the host LRU cap ages out chains retired wholesale; removed
    generations take their lock files with them."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    monkeypatch.setattr(staging, "_MAX_GENERATIONS", 3)
    staging._CACHE.clear()

    part_n = 0

    def write_part(lo):
        nonlocal part_n
        ids = list(range(lo, lo + 5))
        tbl = pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [[float(i), 1.0] for i in ids], pa.list_(pa.float32())
                ),
            }
        )
        p = str(tmp_path / f"part{part_n}.parquet")
        part_n += 1
        pq.write_table(tbl, p)
        return p

    def n_generations():
        return sum(
            1
            for n in os.listdir(tmp_path)
            if n.startswith("mysteryann-shared-")
            and os.path.exists(os.path.join(tmp_path, n, "MANIFEST.json"))
        )

    def n_locks():
        return sum(1 for n in os.listdir(tmp_path) if n.endswith(".lock"))

    for _compaction in range(3):
        paths = [write_part(0)]  # compaction: fresh chain, lineage break
        staging.load_staged_matrix(list(paths), "vec_id", "embedding")
        for step in range(4):
            paths.append(write_part(5 * (step + 1)))
            ids, mat = staging.load_staged_matrix(
                list(paths), "vec_id", "embedding"
            )
            assert n_generations() <= 3, (
                f"scratch grew unbounded: {n_generations()} generations"
            )
            assert n_locks() <= 3
        # the churned chain still resolves to the right merged artifact
        assert len(ids) == 25 and mat.shape == (25, 2)
    assert n_generations() <= 3


def test_shared_scratch_gc_skips_held_generation(tmp_path, monkeypatch):
    """The LRU GC takes each doomed generation's lock with LOCK_NB and
    skips it while another process holds it (a load or build in flight);
    once released, the next publish removes it and its lock file."""
    import os

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    monkeypatch.setattr(staging, "_MAX_GENERATIONS", 1)
    staging._shared_build("gen-a", lambda: (np.arange(3),))
    d_a = staging._shared_dir("gen-a")
    with staging._locked(d_a):
        staging._shared_build("gen-b", lambda: (np.arange(4),))
        assert os.path.exists(os.path.join(d_a, "MANIFEST.json"))
    staging._shared_build("gen-c", lambda: (np.arange(5),))
    assert not os.path.exists(d_a) and not os.path.exists(d_a + ".lock")
    assert os.path.exists(staging._shared_dir("gen-c"))


def test_load_staged_shared_mode_through_kernel_ops(tmp_path, monkeypatch):
    """The mapped arrays must behave under the kernels' access patterns:
    fancy indexing, searchsorted, GEMM — all read-only, and as plain
    ndarrays (no np.memmap wrapping on derived results)."""
    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    staging._CACHE.clear()

    ids = np.array([3, 7, 9], dtype=np.int64)
    mat = np.arange(12, dtype=np.float64).reshape(3, 4)
    got_ids, got_mat = staging.load_staged("kk", lambda: (ids, mat))
    assert type(got_mat) is np.ndarray and isinstance(got_mat.base, np.memmap)
    assert int(np.searchsorted(got_ids, 7)) == 1
    np.testing.assert_allclose(got_mat[[2, 0]] @ got_mat.T, mat[[2, 0]] @ mat.T)
    assert type(got_mat[[2, 0]]) is np.ndarray
    staging._CACHE.clear()


def test_shared_build_waiter_survives_gc_between_check_and_load(
    tmp_path, monkeypatch
):
    """The GC removes a generation under that key's lock and unlinks the
    lock file with it. A waiter that queued on the old lock file must
    not trust it once it wakes: it re-checks the path's inode, queues on
    the fresh lock file a later builder created, and maps that builder's
    publish instead of building a second copy."""
    import fcntl
    import os
    import shutil
    import threading
    import time

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    arr = (np.arange(6, dtype=np.int64),)
    staging._shared_build("kgcrace", lambda: arr)
    d = staging._shared_dir("kgcrace")
    lock = d + ".lock"

    calls = {"n": 0}
    box = {}

    def build():
        calls["n"] += 1
        return (np.zeros(6, dtype=np.int64),)

    def waiter():
        box["out"] = staging._shared_build("kgcrace", build)

    old = os.open(lock, os.O_RDWR)
    fcntl.flock(old, fcntl.LOCK_EX)  # the GC holds the key ...
    t = threading.Thread(target=waiter)
    t.start()
    time.sleep(0.3)
    assert t.is_alive(), "waiter must block on the held lock"
    shutil.rmtree(d)  # ... and removes the generation with its lock file
    os.unlink(lock)
    new = os.open(lock, os.O_RDWR | os.O_CREAT)
    fcntl.flock(new, fcntl.LOCK_EX)  # a later builder takes the fresh lock
    os.close(old)  # GC done: the waiter wakes on the unlinked inode
    time.sleep(0.3)
    assert t.is_alive(), "waiter trusted a lock file the GC unlinked"
    staging._shared_save(d, (np.full(6, 9, dtype=np.int64),))
    os.close(new)
    t.join(timeout=30)
    assert not t.is_alive()
    assert calls["n"] == 0
    np.testing.assert_array_equal(box["out"][0], np.full(6, 9))


def test_stage_scratch_owner_root_and_sweep(tmp_path, monkeypatch):
    """Cross-session stage-scratch lifecycle (measured r11: 4,791 leaked
    mysteryann-stage-* dirs / 45 GB from OOM-killed sessions — atexit
    never runs under SIGKILL). All staged artifacts share ONE per-process
    root carrying an OWNER record; the startup sweep reclaims roots whose
    exact owner process (pid AND kernel start ticks) is dead, TTLs
    ownerless legacy dirs, and never touches a live session's scratch."""
    import json
    import os
    import subprocess
    import sys
    import tempfile
    import time

    from mysteryann_spark.sources import staging

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(staging, "_STAGE_ROOT", None)

    # this process's root: OWNER names us, sweep must spare it
    mine = staging._stage_root()
    assert os.path.isfile(os.path.join(mine, "OWNER"))
    rec = json.load(open(os.path.join(mine, "OWNER")))
    assert rec["pid"] == os.getpid()

    # a DEAD session's root: real pid + real start ticks of a process
    # that has exited
    child = subprocess.Popen([sys.executable, "-c", "import os; print(os.getpid())"],
                             stdout=subprocess.PIPE)
    dead_pid = int(child.stdout.read())
    child.wait()
    dead = tmp_path / "mysteryann-stage-deadsession"
    dead.mkdir()
    (dead / "OWNER").write_text(json.dumps({"pid": dead_pid, "start_ticks": 12345}))
    (dead / "artifact").mkdir()

    # a LIVE foreign session (pid 1 is always alive): spared even if old
    live = tmp_path / "mysteryann-stage-livesession"
    live.mkdir()
    (live / "OWNER").write_text(json.dumps(
        {"pid": 1, "start_ticks": staging._proc_start_ticks(1)}
    ))
    old = time.time() - 10 * 3600
    os.utime(live, (old, old))

    # pid-reuse guard: pid alive but start ticks DIFFER -> that process
    # is not the owner; the root is dead
    reused = tmp_path / "mysteryann-stage-reusedpid"
    reused.mkdir()
    (reused / "OWNER").write_text(json.dumps({"pid": 1, "start_ticks": -999}))

    # legacy ownerless dirs: TTL'd only
    legacy_old = tmp_path / "mysteryann-stage-legacyold"
    legacy_old.mkdir()
    os.utime(legacy_old, (old, old))
    legacy_new = tmp_path / "mysteryann-stage-legacynew"
    legacy_new.mkdir()

    removed = staging.sweep_stage_scratch()
    assert removed == 3, f"expected dead+reused+legacyold, removed {removed}"
    assert os.path.isdir(mine)
    assert live.is_dir()
    assert legacy_new.is_dir()
    assert not dead.exists() and not reused.exists() and not legacy_old.exists()


def test_stage_parquet_uses_shared_owner_root(spark, tmp_path, monkeypatch):
    """Every stage_parquet artifact lands under the ONE per-process OWNER
    root (not a fresh top-level mkdtemp per call), so a dead session's
    whole scratch is one sweep away."""
    import os
    import tempfile

    from mysteryann_spark.sources import staging

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(staging, "_STAGE_ROOT", None)
    df = spark.range(5)
    p1 = staging.stage_parquet(df)
    p2 = staging.stage_parquet(df)
    assert os.path.dirname(p1) == os.path.dirname(p2) == staging._stage_root()
    roots = [d for d in os.listdir(str(tmp_path)) if d.startswith("mysteryann-stage-")]
    assert len(roots) == 1
    # explicit storage_dir still honored (the cluster contract)
    p3 = staging.stage_parquet(df, storage_dir=str(tmp_path / "explicit"))
    assert p3.startswith(str(tmp_path / "explicit"))
