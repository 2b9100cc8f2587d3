"""Registry entries that write index files, streaming checkpoints or
stream-source links must leave no scratch dir in the temp dir once their
driver process exits, and must write nothing to fixed host paths.

The entries run in a fresh Python process whose ``TMPDIR`` is a new,
empty dir, so anything they leave there is theirs alone."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_TINY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENTRIES = [
    "roargraph_stream_insert",
    "roargraph_stream_maintain",
    "roargraph_save_load_search",
    "roargraph_binary_interop",
    "roargraph_nsg_import",
    "ann_ivfpq_persisted",
    "ann_ivfpq_vectors",
    "fbin_roundtrip_norms",
    "stream_tumbling_oracled",
    "stream_dedup_oracled",
    "stream_neardup_docs",
]

# every prefix these entries (and the staging they call) create dirs under
PREFIXES = (
    "roargraph_stream_",
    "roargraph_maintain_",
    "mysteryann-roundtrip-",
    "mysteryann-binidx-",
    "mysteryann-nsg-",
    "mysteryann-stage-",
)

# the saved IVF-PQ indexes, the fbin round trip and the stream-source
# links once went to fixed /tmp paths that ignored TMPDIR and were shared
# by every session on the host; checked while the session is still up,
# before any exit hook could remove them
_RUN = """
import glob
import os
import sys

made = []
_makedirs, _symlink = os.makedirs, os.symlink


def _record_makedirs(name, *a, **kw):
    made.append(str(name))
    return _makedirs(name, *a, **kw)


def _record_symlink(src, dst, *a, **kw):
    made.append(str(dst))
    return _symlink(src, dst, *a, **kw)


os.makedirs, os.symlink = _record_makedirs, _record_symlink

from mysteryann_spark.queries.registry import all_queries
from mysteryann_spark.session import get_spark

spark = get_spark(app_name="scratch-leaks", shuffle_partitions=4)
queries = all_queries()
for name in sys.argv[2:]:
    print(name, queries[name].fn(spark, sys.argv[1]).count(), flush=True)
app = spark.sparkContext.applicationId
fixed = glob.glob("/tmp/mysteryann_ivfpq*_" + app)
assert not fixed, f"index saved outside TMPDIR: {fixed}"
shared = [p for p in made if p.startswith("/tmp/mysteryann_")]
assert not shared, f"written to fixed host paths: {shared}"
spark.stop()
"""


def test_registry_scratch_dirs_removed_at_exit(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=REPO)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.pop("SPARK_LOCAL_DIRS", None)
    proc = subprocess.run(
        [sys.executable, "-c", _RUN, SF_TINY, *ENTRIES],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    out = proc.stdout + "\n" + proc.stderr
    assert proc.returncode == 0, out[-4000:]
    for name in ENTRIES:
        assert f"{name} " in proc.stdout, f"entry {name} never ran:\n{out[-2000:]}"
    left = sorted(p for p in os.listdir(tmp) if p.startswith(PREFIXES))
    assert not left, f"scratch left in TMPDIR after exit: {left}"
