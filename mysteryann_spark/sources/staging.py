"""Executor-side staging of in-memory index artifacts — no driver collect.

The broadcast search path needs the whole index (base matrix + CSR
adjacency) resident next to every kernel. Round 1 built that by
``collect()``-ing the tables at the driver and broadcasting — the
reference's single-node regime, but the driver is the one node that
cannot scale: a 10^8-row base would round-trip through driver memory.

Staging replaces the round-trip with storage: the artifact tables are
written ONCE as Parquet by a distributed Spark job (``stage_parquet``),
and Python workers build their in-memory form lazily on first use
(``load_staged``). This is the Spark ML model pattern: artifacts live
on shared storage, not in the driver heap.

A built artifact that is a tuple of ndarrays is built once per HOST,
not once per worker: the first worker to need it writes it as flat
``.npy`` files to node-local scratch (``SPARK_LOCAL_DIRS``) and every
worker maps those files read-only, so the page cache holds one copy.
A per-key ``flock`` serializes build and load — the kernel releases it
when a builder dies, so there is no liveness protocol to maintain.
Each worker also keeps a small LRU of the artifacts it has mapped.

Locally the temp dir is process-shared; on a cluster callers pass
``storage_dir`` on cluster-visible storage (HDFS/S3) — the same contract
every Spark ML writer has.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import tempfile
import uuid
from collections import OrderedDict
from contextlib import contextmanager
from typing import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame

# per-Python-worker artifact cache; bounded so repeated stagings of
# throwaway indexes (tests, sweeps with fresh builds) can't accumulate.
# Shareable artifacts are read-only maps of the host-shared store
# (_shared_build), so an entry pins page-cache pages every worker on the
# host shares, not a private copy: the LRU's size does not multiply
# memory by the worker count. Only artifacts that are not a tuple of
# arrays (NOSHARE, e.g. the None empty-input marker) are held privately.
_CACHE: "OrderedDict[str, object]" = OrderedDict()
_CACHE_MAX = 8


# scratch budget for host-shared generations: each maintenance-chain step
# publishes a fresh mysteryann-shared-* npy set (~5 GB at 10^7 x 64-d).
# Publish-time GC (a) unlinks the generation BEFORE the one just
# superseded (lineage PREV links — the immediate prior is kept for
# readers mid-open; already-mapped readers are unaffected by unlink,
# POSIX keeps their pages), and (b) applies this host-wide LRU cap so
# chains RETIRED wholesale (compaction starts a new lineage; the old
# chain's tail would otherwise linger) age out as later publishes land.
# Deleting a still-wanted artifact is a rebuild, never a wrong answer.
_MAX_GENERATIONS = int(os.environ.get("SPARK_GRAFT_SHARED_MAX_GENERATIONS", "8"))

# winner-process lineage: artifact key -> the prior-prefix key it was
# incrementally patched from (set by load_staged_matrix/_graph builders,
# consumed by _gc_scratch right after the publish)
_LINEAGE: dict[str, str] = {}

_SHARED_PREFIX = "mysteryann-shared-"


def _shared_root() -> str:
    """Host scratch for shared artifacts: the first ``SPARK_LOCAL_DIRS``
    entry. Spark hands every Python worker its per-application
    ``blockmgr-*`` dir there and deletes it on ``spark.stop()``, so the
    store lives exactly as long as the application — a key naming
    staged paths, such as ``knnq|<match_col>|<part files>``, cannot serve
    an earlier session's artifact after those paths are written again.
    Driver-side calls and tests
    without the variable fall back to the temp dir."""
    local = os.environ.get("SPARK_LOCAL_DIRS")
    return local.split(",")[0] if local else tempfile.gettempdir()


def _shared_dir(key: str) -> str:
    import hashlib

    root = _shared_root()
    os.makedirs(root, exist_ok=True)
    digest = hashlib.sha1(key.encode()).hexdigest()[:20]
    return os.path.join(root, _SHARED_PREFIX + digest)


@contextmanager
def _locked(d: str, flags: int = fcntl.LOCK_EX):
    """Hold the ``flock`` of artifact dir ``d`` (its sibling ``.lock``
    file) for the body; yields False, unlocked, when ``LOCK_NB`` was asked
    and another process holds it. The kernel drops the lock when its
    holder dies, so a killed builder never strands the key. After
    locking, the path must still name the inode we locked: the GC
    unlinks the lock file of a generation it removes, and a lock on an
    unlinked inode guards nothing — retry on the path's current file."""
    lock = d + ".lock"
    while True:
        fd = os.open(lock, os.O_RDWR | os.O_CREAT, 0o644)
        try:
            try:
                fcntl.flock(fd, flags)
            except BlockingIOError:
                yield False
                return
            try:
                current = os.stat(lock).st_ino == os.fstat(fd).st_ino
            except FileNotFoundError:
                current = False
            if current:
                yield True
                return
        finally:
            os.close(fd)


def _shared_save(d: str, obj: tuple) -> None:
    """Write each array as ``a{i}.npy``, then the manifest LAST — a dir
    without a readable manifest is never loaded. Any earlier content is
    unlinked first, never overwritten: a reader that still maps an old
    file keeps its pages (POSIX unlink), where truncating it in place
    would fault that reader."""
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for i, a in enumerate(obj):
        np.save(os.path.join(d, f"a{i}.npy"), a)
    with open(os.path.join(d, "MANIFEST.json"), "w") as f:
        json.dump({"n": len(obj)}, f)


def _shared_load(d: str) -> tuple:
    """Map a published artifact read-only. The arrays are plain ndarray
    views over the maps: ``np.memmap`` itself wraps every index and ufunc
    result in Python, which the beam-search loop would pay per hop."""
    with open(os.path.join(d, "MANIFEST.json")) as f:
        n = json.load(f)["n"]
    out = tuple(
        np.load(os.path.join(d, f"a{i}.npy"), mmap_mode="r").view(np.ndarray)
        for i in range(n)
    )
    os.utime(d)  # refresh LRU recency so _gc_scratch spares live dirs
    return out


def _remove_generation(p: str) -> None:
    """Unlink generation dir ``p`` and its lock file, unless a process
    holds its lock (a build or a load in flight): then skip it."""
    try:
        with _locked(p, fcntl.LOCK_EX | fcntl.LOCK_NB) as got:
            if got:
                shutil.rmtree(p, ignore_errors=True)
                os.unlink(p + ".lock")
    except OSError:
        pass


def _gc_scratch(key: str, d: str) -> None:
    """Publish-time scratch GC (see _MAX_GENERATIONS). Runs in the
    winner right after its manifest lands; best-effort throughout —
    scratch GC must never fail a build. Two mechanisms:

    * lineage: the new artifact records the generation it was patched
      from (``PREV``); the generation BEFORE that one is unlinked. The
      immediate prior survives one more step for readers that read its
      manifest just before ours landed (keep-exactly-one-prior).
    * host LRU cap: every other manifest-bearing shared dir beyond
      ``_MAX_GENERATIONS`` (oldest mtime first) is removed — the path
      by which chains retired WHOLESALE (compaction, index drop) age
      out. The new artifact and its PREV are never touched, nor is any
      dir whose lock is held (``_remove_generation``)."""
    prev_key = _LINEAGE.pop(key, None)
    d_prev = _shared_dir(prev_key) if prev_key else None
    try:
        if d_prev:
            with open(os.path.join(d, "PREV"), "w") as f:
                f.write(d_prev)
            try:
                with open(os.path.join(d_prev, "PREV")) as f:
                    gp = f.read().strip()
            except OSError:
                gp = None
            if (
                gp
                and gp not in (d, d_prev)
                and os.path.basename(gp).startswith(_SHARED_PREFIX)
            ):
                _remove_generation(gp)
        root = os.path.dirname(d)
        gens = []
        for name in os.listdir(root):
            p = os.path.join(root, name)
            if not name.startswith(_SHARED_PREFIX) or p in (d, d_prev):
                continue
            # only PUBLISHED generations are eligible: a dir without a
            # manifest is a build in progress, a NOSHARE marker or
            # failure residue
            if not os.path.exists(os.path.join(p, "MANIFEST.json")):
                continue
            try:
                gens.append((os.path.getmtime(p), p))
            except OSError:
                pass
        keep = max(0, _MAX_GENERATIONS - (2 if d_prev else 1))
        doomed = sorted(gens)[:-keep] if keep else sorted(gens)
        for _, p in doomed:
            _remove_generation(p)
    except OSError:
        pass


def _shareable(obj: object) -> bool:
    return (
        isinstance(obj, tuple)
        and bool(obj)
        and all(isinstance(a, np.ndarray) and a.dtype != object for a in obj)
    )


def _shared_build(key: str, build: Callable[[], object]) -> object:
    """Build-once-per-host. Every worker takes the key's lock: the first
    finds no manifest, builds, publishes and maps its own publish; the
    rest block in the kernel until it is done, then map the same files,
    so the OS page cache holds ONE copy per host instead of one private
    copy per worker (at 10^7 x 64-d the private regime was ~2.6 GB x
    n_workers for the base matrix alone). A builder that raises or dies
    releases the lock with no marker left behind: the next caller
    retries the build once, and Spark's task retries bound the rest.

    Artifacts that are not a tuple of non-object ndarrays (e.g. a None
    empty-input marker) cannot be mapped: the first builder leaves a
    NOSHARE marker and every caller builds privately, outside the lock,
    so such builds never queue behind each other."""
    d = _shared_dir(key)
    try:
        with _locked(d):
            try:
                return _shared_load(d)
            except (OSError, ValueError, KeyError):
                pass  # not published yet (or damaged): build it
            if not os.path.exists(os.path.join(d, "NOSHARE")):
                obj = build()
                if _shareable(obj):
                    _shared_save(d, obj)
                    out = _shared_load(d)
                    _gc_scratch(key, d)
                    return out
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, "NOSHARE"), "w"):
                    pass
                return obj
    finally:
        # a failed or unshareable build must not leave a lineage link
        # for a later, possibly full, rebuild of this key
        _LINEAGE.pop(key, None)
    return build()


_STAGE_ROOT: str | None = None


def _proc_start_ticks(pid: int) -> int | None:
    """Kernel start time (clock ticks since boot, /proc/<pid>/stat field
    22) of a pid — the (pid, start_ticks) pair survives pid reuse, so a
    recycled pid never keeps a dead session's scratch alive. None where
    /proc isn't available (the sweep then falls back to pid liveness)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
        # comm (field 2) may contain spaces/parens — split after the
        # LAST ')' so fields 3+ parse positionally
        rest = data[data.rindex(b")") + 2 :].split()
        return int(rest[19])
    except (OSError, ValueError, IndexError):
        return None


def _stage_root() -> str:
    """One scratch ROOT per driver process for every staged artifact,
    with an OWNER record (pid + kernel start ticks) and an atexit
    rmtree. Before r11 each ``stage_parquet`` call mkdtemp'd its own
    top-level dir with NO lifecycle at all — measured on this box as
    4,791 leaked dirs / 45 GB accumulated across dead sessions (atexit
    never runs under OOM-kill; nothing else knew the dirs were dead).
    One root per process means one OWNER check reclaims everything a
    dead session staged — see ``sweep_stage_scratch``."""
    global _STAGE_ROOT
    if _STAGE_ROOT is None or not os.path.isdir(_STAGE_ROOT):
        import atexit
        import json
        import shutil

        root = tempfile.mkdtemp(prefix="mysteryann-stage-")
        try:
            with open(os.path.join(root, "OWNER"), "w") as f:
                json.dump(
                    {
                        "pid": os.getpid(),
                        "start_ticks": _proc_start_ticks(os.getpid()),
                    },
                    f,
                )
        except OSError:
            pass
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _STAGE_ROOT = root
    return _STAGE_ROOT


def scratch_dir(prefix: str) -> str:
    """A fresh dir under the stage root, for driver-side scratch (index
    files, streaming checkpoints, snapshots): removed at exit with the
    root, or by the next session's sweep if this process is killed."""
    return tempfile.mkdtemp(prefix=prefix, dir=_stage_root())


def sweep_stage_scratch(max_age_s: float = 6 * 3600.0) -> int:
    """Best-effort cross-session GC of leaked stage scratch; returns the
    number of dirs removed. Roots with an OWNER record are removed when
    that exact process (pid AND start ticks) is dead — safe against pid
    reuse, and a live session's scratch is never touched regardless of
    age. Ownerless dirs (pre-r11 sessions, or an OWNER write that lost a
    race with the kill) fall back to the ``max_age_s`` TTL. Called from
    ``session.get_spark`` so every new session reclaims what dead ones
    leaked; failures are swallowed — scratch GC must never fail a
    session start."""
    import json
    import shutil
    import time as _time

    removed = 0
    now = _time.time()
    root = tempfile.gettempdir()
    try:
        names = os.listdir(root)
    except OSError:
        return 0
    for name in names:
        if not name.startswith("mysteryann-stage-"):
            continue
        p = os.path.join(root, name)
        if not os.path.isdir(p):
            continue
        dead = False
        try:
            with open(os.path.join(p, "OWNER")) as f:
                rec = json.load(f)
            pid = int(rec["pid"])
            if pid == os.getpid():
                continue  # never self-reap
            try:
                os.kill(pid, 0)
                alive = True
            except ProcessLookupError:
                alive = False
            except PermissionError:
                alive = True
            if alive and rec.get("start_ticks") is not None:
                alive = _proc_start_ticks(pid) == rec["start_ticks"]
            dead = not alive
        except (OSError, ValueError, KeyError, TypeError):
            try:
                dead = (now - os.path.getmtime(p)) > max_age_s
            except OSError:
                dead = False
        if dead:
            shutil.rmtree(p, ignore_errors=True)
            removed += 1
    return removed


def stage_parquet(df: DataFrame, storage_dir: str | None = None) -> str:
    """Write ``df`` once via a distributed job; returns the artifact path.
    Default scratch lives under the per-process OWNER root (reclaimed by
    ``sweep_stage_scratch`` when this process dies uncleanly); callers on
    a cluster pass ``storage_dir`` on cluster-visible storage."""
    base = storage_dir or _stage_root()
    path = os.path.join(base, uuid.uuid4().hex)
    df.write.mode("overwrite").parquet(path)
    return path


def list_staged_files(path: str) -> list[str]:
    """Part-file URIs of a staged Parquet artifact, listed driver-side
    through pyarrow's filesystem layer. The previous route —
    ``spark.read.parquet(path).inputFiles()`` — plans a scan relation
    with schema inference, which costs 1-2 driver jobs (parquet-footer
    reads) on EVERY kNN/range/IVF join invocation; a directory listing
    needs none (guide §1.2: remove work, then tune). Returns sorted
    ``scheme://``-qualified URIs, the same shape ``inputFiles`` produced,
    so the executor-side block readers are unchanged."""
    import pyarrow.fs as pafs

    uri = path if ":/" in path else "file://" + os.path.abspath(path)
    fs, rel = pafs.FileSystem.from_uri(uri)
    scheme = uri.split(":", 1)[0]
    out = []
    for fi in fs.get_file_info(pafs.FileSelector(rel, recursive=False)):
        name = fi.base_name
        if fi.type == pafs.FileType.File and not name.startswith(("_", ".")):
            out.append(f"{scheme}://{fi.path}")
    return sorted(out)


def staged_row_count(paths: list[str]) -> int:
    """Total parquet-footer row count of staged artifacts, read
    driver-side (pyarrow metadata; no Spark job, no data read). Chained
    incremental sets count overridden duplicate ids twice — callers use
    this as a SIZING ESTIMATE (e.g. kernel-stage partition counts), not
    as an exact row count."""
    return sum(staged_leaf_counts(p)[0] for p in paths)


def staged_leaf_counts(path: str) -> tuple[int, dict[str, int]]:
    """(row count, leaf-value count per top-level column) of one staged
    artifact, summed over its parquet footers' column-chunk metadata — no
    Spark job, no data read. A list column's count is its element count
    (plus one slot per empty or null list)."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    rows, leaves = 0, {}
    for uri in list_staged_files(path):
        fs, rel = pafs.FileSystem.from_uri(uri)
        with fs.open_input_file(rel) as f:
            md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                top = col.path_in_schema.split(".", 1)[0]
                leaves[top] = leaves.get(top, 0) + col.num_values
    return rows, leaves


class StagedBase:
    """Append-only staged vector set shared across index-maintenance calls.

    Holds an ordered list of staged Parquet paths whose executor-side form
    is their concatenation with LATER paths overriding earlier rows that
    share an id (``staged_matrix``) — the delete-then-reinsert update case.
    The streaming maintenance loop creates one of these for the initial
    base and each micro-batch appends only its delta, so per-batch staging
    cost is ∝ |batch|, not ∝ |graph| (previously every micro-batch's two
    prune calls each re-staged the FULL base to a fresh path, paying an
    O(|graph|) write + per-worker matrix rebuild twice per batch).

    A staged set may be a SUPERSET of the live base (deleted ids keep
    their rows): the prune/search kernels look vectors up by id, so
    unreferenced rows are dead weight only. Compact by re-staging when
    churn makes the overhang material."""

    def __init__(self, paths: list[str]):
        self.paths = list(paths)

    @classmethod
    def of(cls, df: DataFrame, storage_dir: str | None = None) -> "StagedBase":
        return cls([stage_parquet(df, storage_dir)])

    def append(self, df: DataFrame, storage_dir: str | None = None) -> "StagedBase":
        self.paths.append(stage_parquet(df, storage_dir))
        return self

    def compact(self, live_df: DataFrame, storage_dir: str | None = None) -> "StagedBase":
        """Re-stage the LIVE vector set as a single artifact and reset the
        chain — reclaims the delete-churn overhang (tombstoned ids keep
        rows in the chain form) and bounds the per-path parquet open cost
        of cold worker rebuilds. Call when `len(paths)` or measured
        overhang crosses a budget (the maintenance loop compacts at the
        same chain length as its adjacency chain,
        streaming.maintain._ADJ_COMPACT_EVERY). ``live_df`` must already
        hold every vector the graph references, the batch just inserted
        included: the chain it replaces is dropped."""
        self.paths = [stage_parquet(live_df, storage_dir)]
        return self


def staged_matrix(
    paths: list[str], id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 matrix) over the CONCATENATION of several staged
    artifacts, id-sorted, duplicate ids resolved to the LAST path's row
    (StagedBase update semantics). One path degenerates to table_matrix."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbls = [pq.read_table(p, columns=[id_col, vec_col]) for p in paths]
    tbl = tbls[0] if len(tbls) == 1 else pa.concat_tables(
        tbls, promote_options="default"
    )
    ids, mat = table_matrix(tbl, id_col, vec_col)
    if len(tbls) > 1:
        # stable id-sort preserved concat order within equal ids, so the
        # run-end of each equal-id run is the latest path's row
        keep = np.append(ids[1:] != ids[:-1], True)
        ids, mat = ids[keep], mat[keep]
    return ids, mat


def load_staged(key: str, build: Callable[[], object]) -> object:
    """Executor-side: an artifact's in-memory form, built once per host
    (``_shared_build``) and cached per worker process. ``build`` reads the
    staged Parquet itself (``read_staged``); ``key`` is usually the staged
    path (or a composite of several).

    Eviction happens BEFORE the build: at rehearsal scale one artifact is
    multiple GB, and building the new matrix while the evictee still sat
    in the cache doubled worker peak memory exactly at stage boundaries —
    when every worker transitions at once."""
    obj = _CACHE.get(key)
    if obj is None:
        while _CACHE and len(_CACHE) >= _CACHE_MAX:
            _CACHE.popitem(last=False)
        obj = _shared_build(key, build)
        _CACHE[key] = obj
    return obj


def _peek_artifact(key: str):
    """Return an ALREADY-BUILT artifact for ``key`` without triggering a
    build: the worker's LRU first, then the host-shared store. The
    incremental-patch path probes prior chain prefixes with this — a miss
    means 'rebuild from parquet'. It only waits on the key's lock when
    the key is already published (a GC or a load may hold it briefly);
    prefixes are strictly shorter keys, so the wait cannot cycle."""
    obj = _CACHE.get(key)
    if obj is not None:
        return obj
    d = _shared_dir(key)
    if not os.path.exists(os.path.join(d, "MANIFEST.json")):
        return None
    with _locked(d):
        try:
            return _shared_load(d)
        except (OSError, ValueError, KeyError):
            return None


def _seg_offsets(lengths: np.ndarray) -> np.ndarray:
    """Intra-segment offsets: for segments of the given lengths laid out
    consecutively, the 0..len-1 position of every element within its own
    segment (the vectorized-scatter helper table_ragged also uses)."""
    total = int(lengths.sum())
    ends = np.cumsum(lengths)
    return np.arange(total, dtype=np.int64) - np.repeat(ends - lengths, lengths)


def _patch_matrix(
    ids: np.ndarray, mat: np.ndarray, d_ids: np.ndarray, d_mat: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Apply a (sorted, unique) delta to a (sorted, unique) id-aligned
    matrix: delta rows override matching ids and insert new ones in id
    order. Returns ``(ids2, mat2, old_dest)`` where ``old_dest[i]`` is
    the new row of prior row ``i`` — the remap the CSR patch needs.
    O(n + |delta|) numpy; never mutates the (possibly mmap'd) prior."""
    n = len(ids)
    if len(d_ids) == 0:
        return ids, mat, np.arange(n, dtype=np.int64)
    pos = np.searchsorted(ids, d_ids)
    posc = np.minimum(pos, n - 1)
    over = (pos < n) & (ids[posc] == d_ids)
    ins_pos = pos[~over]
    ins_ids, ins_mat = d_ids[~over], d_mat[~over]
    n2 = n + len(ins_ids)
    old_dest = np.arange(n, dtype=np.int64) + np.searchsorted(
        ins_pos, np.arange(n, dtype=np.int64), side="right"
    )
    ins_dest = ins_pos + np.arange(len(ins_ids), dtype=np.int64)
    ids2 = np.empty(n2, dtype=np.int64)
    mat2 = np.empty((n2, mat.shape[1]), dtype=mat.dtype)
    ids2[old_dest] = ids
    mat2[old_dest] = mat
    ids2[ins_dest] = ins_ids
    mat2[ins_dest] = ins_mat
    if over.any():
        mat2[old_dest[pos[over]]] = d_mat[over]
    return ids2, mat2, old_dest


def _delta_lists(tbl, ids2: np.ndarray):
    """Delta adjacency table -> (rows, lengths, flat_rows) in ids2 row
    space, table order, with nodes/neighbors absent from ``ids2`` dropped
    (identical semantics to ``table_csr``'s full rebuild)."""
    nodes = tbl["node"].combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
    arr = tbl["nbrs"].combine_chunks()
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    widths = np.diff(offsets)
    n2 = len(ids2)
    nrows = np.searchsorted(ids2, nodes)
    node_ok = (nrows < n2) & (ids2[np.minimum(nrows, n2 - 1)] == nodes)
    owner = np.repeat(np.arange(len(nodes), dtype=np.int64), widths)
    frows = np.searchsorted(ids2, flat)
    f_ok = (frows < n2) & (ids2[np.minimum(frows, n2 - 1)] == flat)
    keep = f_ok & node_ok[owner]
    owner_k, frows_k = owner[keep], frows[keep]
    new_w = np.bincount(owner_k, minlength=len(nodes))
    return nrows[node_ok], new_w[node_ok], frows_k


def _patch_csr(
    old_dest: np.ndarray,
    n2: int,
    indptr: np.ndarray,
    indices: np.ndarray,
    dn_rows: np.ndarray,
    d_len: np.ndarray,
    d_flat_rows: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Rebuild a CSR after a base patch + adjacency delta: prior edges are
    remapped through ``old_dest`` (row positions shifted by inserts),
    delta rows replace their prior lists wholesale (an empty delta list
    is a tombstone), new rows without a delta list stay empty. O(E)
    vectorized scatters; no per-node loop."""
    old_len = np.diff(indptr)
    remapped = old_dest[indices]
    row_len = np.zeros(n2, dtype=np.int64)
    row_len[old_dest] = old_len
    replaced = np.zeros(n2, dtype=bool)
    replaced[dn_rows] = True
    row_len[dn_rows] = d_len
    new_indptr = np.concatenate(
        [np.zeros(1, dtype=np.int64), np.cumsum(row_len, dtype=np.int64)]
    )
    out = np.empty(int(new_indptr[-1]), dtype=np.int64)
    keep_old = ~replaced[old_dest]
    seg_rows, seg_len = old_dest[keep_old], old_len[keep_old]
    dest = np.repeat(new_indptr[seg_rows], seg_len) + _seg_offsets(seg_len)
    out[dest] = remapped[np.repeat(keep_old, old_len)]
    dest_d = np.repeat(new_indptr[dn_rows], d_len) + _seg_offsets(d_len)
    out[dest_d] = d_flat_rows
    return new_indptr, out


def _matrix_key(paths: list[str], id_col: str, vec_col: str) -> str:
    return f"stagedmat|{id_col}|{vec_col}|" + ";".join(paths)


def load_staged_matrix(
    paths: list[str], id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Worker-side (ids, matrix) over a staged-path CHAIN, incremental:
    when an artifact for a PREFIX of ``paths`` was already built (this
    worker's LRU, or the host-shared store), only the suffix deltas are
    read from parquet and PATCHED in — O(n) memcpy + O(|delta|) parquet
    instead of re-reading the whole chain. This is the maintenance-loop
    payoff: per-batch artifact refresh cost follows the batch, and the
    winner publishes the patched npy in seconds (a sequential O(n)
    write) instead of minutes of full parquet decode.
    Falls back to the full ``staged_matrix`` read when no prefix exists."""
    key = _matrix_key(paths, id_col, vec_col)

    def _build():
        for cut in range(len(paths) - 1, 0, -1):
            prior_key = _matrix_key(paths[:cut], id_col, vec_col)
            prior = _peek_artifact(prior_key)
            if prior is None:
                continue
            _LINEAGE[key] = prior_key  # publish-time GC lineage
            ids, mat = prior
            d_ids, d_mat = staged_matrix(paths[cut:], id_col, vec_col)
            ids2, mat2, _ = _patch_matrix(ids, mat, d_ids, d_mat.astype(mat.dtype, copy=False))
            return ids2, mat2
        return staged_matrix(paths, id_col, vec_col)

    return load_staged(key, _build)


def _graph_key(base_paths: list[str], adj_paths: list[str],
               id_col: str, vec_col: str) -> str:
    # ';'/'#' separators keep (base, adj) splits unambiguous — the old
    # '|'.join of both lists collided across different splits
    return (
        f"stagedgraph|{id_col}|{vec_col}|"
        + ";".join(base_paths) + "#" + ";".join(adj_paths)
    )


def load_staged_graph(
    base_paths: list[str],
    adj_paths: list[str],
    base_id: str,
    vec_col: str,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Worker-side search-index artifact (ids, base matrix, CSR indptr,
    CSR indices) over staged-path CHAINS, incremental like
    ``load_staged_matrix``: the longest previously-built (base-prefix,
    adj-prefix) artifact is patched with the suffix deltas — base rows
    merged in id order (``_patch_matrix``), prior edges remapped, delta
    adjacency rows replacing their nodes' lists (``_patch_csr``). An
    empty delta list tombstones a deleted node: it keeps a row (the
    staged base is a superset) but nothing links to it, so it is
    unreachable. Bit-parity with the full rebuild is gated in
    tests/test_staging_delta.py."""
    key = _graph_key(base_paths, adj_paths, base_id, vec_col)

    def _full():
        ids, bmat = staged_matrix(base_paths, base_id, vec_col)
        indptr, indices = table_csr(read_staged_multi(adj_paths), ids)
        return ids, bmat, indptr, indices

    def _build():
        best = None
        for bi in range(len(base_paths), 0, -1):
            for ai in range(len(adj_paths), 0, -1):
                if bi == len(base_paths) and ai == len(adj_paths):
                    continue
                prior = _peek_artifact(
                    _graph_key(base_paths[:bi], adj_paths[:ai], base_id, vec_col)
                )
                if prior is not None:
                    best = (bi, ai, prior)
                    break
            if best:
                break
        if best is None:
            return _full()
        bi, ai, (ids, bmat, indptr, indices) = best
        _LINEAGE[key] = _graph_key(  # publish-time GC lineage
            base_paths[:bi], adj_paths[:ai], base_id, vec_col
        )
        if bi < len(base_paths):
            d_ids, d_mat = staged_matrix(base_paths[bi:], base_id, vec_col)
            ids2, bmat2, old_dest = _patch_matrix(
                ids, bmat, d_ids, d_mat.astype(bmat.dtype, copy=False)
            )
        else:
            ids2, bmat2 = ids, bmat
            old_dest = np.arange(len(ids), dtype=np.int64)
        if ai < len(adj_paths):
            dn_rows, d_len, d_flat_rows = _delta_lists(
                read_staged_multi(adj_paths[ai:]), ids2
            )
        else:
            dn_rows = d_len = d_flat_rows = np.empty(0, dtype=np.int64)
        indptr2, indices2 = _patch_csr(
            old_dest, len(ids2), indptr, indices, dn_rows, d_len, d_flat_rows
        )
        return ids2, bmat2, indptr2, indices2

    return load_staged(key, _build)


def read_staged(path: str):
    """Read a staged Parquet artifact as one Arrow table (executor-side;
    pyarrow skips the _SUCCESS marker)."""
    import pyarrow.parquet as pq

    return pq.read_table(path)


# rows per frame a staged task emits (bounds each Arrow batch)
_EMIT_ROWS = 1 << 20


def staged_task(spark, path: str, kernel: Callable[..., Iterator], schema: str) -> DataFrame:
    """ONE single-partition task: ``kernel`` maps the staged Arrow table
    at ``path`` to pandas frames, emitted in slices of at most
    ``_EMIT_ROWS`` rows. The job count is fixed, whatever the kernel
    loops over in memory; each action on the result re-runs the task."""

    # not ``run``: that is the graph search UDF's name, and traces
    # attribute UDF time to layers by the name the plan node shows
    def staged_kernel(batches):
        for _ in batches:  # the one-row driver frame only triggers the task
            pass
        for frame in kernel(read_staged(path)):
            for s in range(0, len(frame), _EMIT_ROWS):
                yield frame.iloc[s : s + _EMIT_ROWS]

    return spark.range(0, 1, 1, 1).mapInPandas(staged_kernel, schema)


def read_staged_multi(paths: "list[str] | str", key_col: str = "node"):
    """One Arrow table over several staged artifacts with LATER paths
    overriding earlier rows that share ``key_col`` — the adjacency twin
    of ``staged_matrix``'s update semantics (the StagedBase delta form).
    A maintenance loop stages the full adjacency ONCE and each batch
    appends only its changed rows (new nodes + reverse-touched re-pruned
    nodes, ∝ batch × degree); the merged view is materialized worker-side
    here instead of re-writing the whole graph per batch. One path (or a
    plain string) degenerates to ``read_staged``. Row order of the
    surviving rows follows the concatenation order; consumers
    (``table_csr``) align by id, not position."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(paths, str):
        return pq.read_table(paths)
    tbls = [pq.read_table(p) for p in paths]
    if len(tbls) == 1:
        return tbls[0]
    tbl = pa.concat_tables(tbls, promote_options="default")
    keys = tbl[key_col].combine_chunks().to_numpy(zero_copy_only=False)
    # last occurrence per key wins: first occurrence in the reversed
    # array IS the last in the original
    _, rev_first = np.unique(keys[::-1], return_index=True)
    keep = np.sort(len(keys) - 1 - rev_first)
    return tbl.take(pa.array(keep))


def table_matrix(tbl, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 matrix) from an Arrow table,
    id-sorted. The list column is flattened through its offsets — one
    buffer copy, no per-row Python objects. Already-sorted ids (the
    common case: staged writes of range-partitioned sources) skip the
    gather, saving a full matrix copy at the moment of peak residency."""
    ids = tbl[id_col].combine_chunks().to_numpy(zero_copy_only=False)
    arr = tbl[vec_col].combine_chunks()
    offsets = arr.offsets.to_numpy(zero_copy_only=False)
    widths = np.diff(offsets)
    if len(widths) == 0:
        raise ValueError("staged base table is empty")
    if not np.all(widths == widths[0]):
        raise ValueError("staged vectors are ragged; expected fixed dim")
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    mat = flat.reshape(len(ids), int(widths[0]))
    if len(ids) > 1 and np.all(ids[1:] >= ids[:-1]):
        return ids.astype(np.int64), mat
    order = np.argsort(ids, kind="stable")
    return ids[order].astype(np.int64), mat[order]


def table_ragged(tbl, id_col: str, list_col: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, indptr, flat) from an Arrow table with a ragged list column,
    id-sorted — the CSR shape for variable-length per-id payloads (token
    sets, signatures of varying width). Built from Arrow list offsets +
    vectorized gathers only; no ``to_pylist``, no per-row Python loop."""
    ids = tbl[id_col].combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
    arr = tbl[list_col].combine_chunks()
    if arr.null_count:
        raise ValueError(f"staged {list_col} column must not contain nulls")
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    widths = np.diff(offsets)
    order = np.argsort(ids, kind="stable")
    starts, l = offsets[:-1][order], widths[order]
    indptr = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(l, dtype=np.int64)])
    # vectorized gather of the reordered segments: position k inside
    # segment j maps to starts[j] + k
    pos = np.arange(int(l.sum()), dtype=np.int64) - np.repeat(indptr[:-1], l) + np.repeat(starts, l)
    return ids[order], indptr, flat[pos]


def table_csr(
    tbl, ids: np.ndarray, node_col: str = "node", nbrs_col: str = "nbrs"
) -> tuple[np.ndarray, np.ndarray]:
    """CSR (indptr, indices) aligned to the sorted ``ids`` row order,
    built from Arrow list offsets + numpy vector ops only — no
    ``to_pylist`` and no per-node Python loop (that path cost minutes of
    single-threaded Python per worker at 10^8 nodes). Nodes and
    neighbors absent from ``ids`` are dropped, matching the previous
    Python builder's semantics."""
    nodes = (
        tbl[node_col].combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
    )
    arr = tbl[nbrs_col].combine_chunks()
    if arr.null_count:
        raise ValueError("adjacency nbrs column must not contain nulls")
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    n = len(ids)
    widths = np.diff(offsets)

    node_rows = np.searchsorted(ids, nodes)
    node_ok = (node_rows < n) & (ids[np.minimum(node_rows, n - 1)] == nodes)
    owner = np.repeat(node_rows, widths)
    owner_ok = np.repeat(node_ok, widths)
    nbr_rows = np.searchsorted(ids, flat)
    nbr_ok = (nbr_rows < n) & (ids[np.minimum(nbr_rows, n - 1)] == flat)

    keep = owner_ok & nbr_ok
    owner, nbr_rows = owner[keep], nbr_rows[keep]
    order = np.argsort(owner, kind="stable")  # stable: keep within-list order
    indices = nbr_rows[order]
    counts = np.bincount(owner, minlength=n)
    indptr = np.concatenate(
        [np.zeros(1, dtype=np.int64), np.cumsum(counts, dtype=np.int64)]
    )
    return indptr, indices
