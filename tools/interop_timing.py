"""Time the reference-binary interop connectors at rehearsal scale.

Generates a synthetic (node, nbrs) adjacency DISTRIBUTED (seeded per-row
degrees ~ the build's measured 33-avg/64-cap profile), then times
export -> import -> re-export for the projection and NSG layouts and
asserts the two exported streams are byte-identical (the roundtrip
equality the unit tests gate at small N, here at timing scale). The
export path is the chunked one (sources/graph_io: each range partition
vector-encodes its node span into one uint32 blob; the driver streams
ordered blobs) — the per-row toLocalIterator loop this replaced measured
16.3 s / 15.6 s at 10^6 nodes (SCALE.md r5 interop table).

Run: python tools/interop_timing.py [N] [AVG_DEG]   (defaults 1_000_000 33)
One JSON line per stage — paste into SCALE.md.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def synth_adjacency(spark, n: int, avg_deg: int, parts: int = 64):
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(int(ids[0]) + 1)
            degs = np.clip(rng.poisson(avg_deg, size=len(ids)), 1, 2 * avg_deg - 2)
            nbrs = [
                rng.integers(0, n, size=d).astype(np.int64) for d in degs
            ]
            yield pd.DataFrame({"node": ids, "nbrs": nbrs})

    return spark.range(0, n, 1, parts).mapInPandas(gen, "node long, nbrs array<long>")


def md5_file(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 22), b""):
            h.update(chunk)
    return h.hexdigest()


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    avg_deg = int(sys.argv[2]) if len(sys.argv) > 2 else 33

    from mysteryann_spark.session import get_spark
    from mysteryann_spark.sources.graph_io import (
        load_nsg_binary,
        load_projection_binary,
        save_nsg_binary,
        save_projection_binary,
    )

    spark = get_spark(app_name=f"interop-timing-{n}")
    adj = synth_adjacency(spark, n, avg_deg).localCheckpoint(eager=True)
    n_edges = int(adj.selectExpr("sum(size(nbrs))").collect()[0][0])
    print(json.dumps({"stage": "synth_adj", "n": n, "edges": n_edges}), flush=True)

    d = tempfile.mkdtemp(prefix="interop-timing-")
    for fmt, save, load in (
        ("projection", lambda a, p: save_projection_binary(a, p, entry_point=0, npts=n),
         load_projection_binary),
        ("nsg", lambda a, p: save_nsg_binary(a, p, entry_point=0, npts=n),
         lambda s, p: load_nsg_binary(s, p)[:2]),
    ):
        p1 = os.path.join(d, f"{fmt}.idx")
        t0 = time.time()
        save(adj, p1)
        t_export = time.time() - t0
        t0 = time.time()
        adj2 = load(spark, p1)[0]
        n2 = adj2.count()
        t_import = time.time() - t0
        # re-export the imported graph: byte-identity closes the loop
        p2 = os.path.join(d, f"{fmt}.reidx")
        save(adj2, p2)
        same = md5_file(p1) == md5_file(p2)
        sz = os.path.getsize(p1)
        print(json.dumps({
            "stage": f"interop_{fmt}", "n": n, "file_mb": round(sz / 1e6, 1),
            "export_sec": round(t_export, 1), "import_sec": round(t_import, 1),
            "reimported_nodes": n2, "byte_roundtrip_equal": same,
        }), flush=True)
        if not same:
            raise SystemExit(f"{fmt}: re-exported stream differs from original")
    spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
