"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 and compares to its DuckDB oracle:
row count, column names, and an order-insensitive value hash (columns sorted
by name, rows sorted, values canonicalized). Run:

    python tools/verify_local.py [name_substring ...]

``--bare`` is the DRIVER-PARITY mode (r4 VERDICT "Next round" #2): it runs
the selected entries on a VANILLA SparkSession — none of session.py's
configs (no Arrow, default timezone, default shuffle partitions, AQE at its
defaults) — because that is the session the correctness driver hands us.
Two rounds of driver failures (r3 HUGEINT typing, r4 Arrow schema
inference) passed every local gate precisely because all of them ran on the
repo's tuned session. Bare mode collects each entry fully (the driver
does), and when the entry has an oracle it checks the full hash too — a
vanilla session must not just *run*, it must produce the same answer.
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
import traceback
from pathlib import Path

import duckdb

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Driver-strict: preserve the int/float distinction (1.0 renders as
        # "1.0", never "1") so DuckDB HUGEINT/DOUBLE escalations that the
        # driver's hash catches also fail here.  Rounding only absorbs
        # double-arithmetic jitter between engines.
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for row in canon_rows:
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    args = sys.argv[1:]
    bare = "--bare" in args
    filters = [a for a in args if not a.startswith("--")]
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if filters:
        qs = {k: v for k, v in qs.items() if any(f in k for f in filters)}

    if bare:
        import os

        from pyspark.sql import SparkSession

        from mysteryann_spark.session import usable_cpus

        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", usable_cpus()))
        # deliberately NO repo configs — this must be the driver's session
        spark = SparkSession.builder.master(f"local[{cpus}]").appName(
            "verify-bare"
        ).getOrCreate()
    else:
        from mysteryann_spark.session import get_spark

        spark = get_spark(app_name="verify-local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    n_pass = n_fail = n_rowsonly = 0
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            cols = sdf.columns
            # Driver-canon constraint (r6 lesson: emb_pca_project): the
            # driver's canonicalizer pandas-sorts output and crashes on
            # Array/Map/Struct cells, so complex columns are a FAIL here
            # even though this tool's own _canon could hash them.
            complex_cols = [
                f.name for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if complex_cols:
                print(f"FAIL  {name}: complex output columns {complex_cols} "
                      f"(driver canonicalizer cannot hash Array/Map/Struct)")
                n_fail += 1
                continue
            rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            ores = con.execute(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} vs {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols {sorted(cols)} vs {sorted(ocols)}")
        if not problems:
            h1, h2 = _hash_rows(cols, rows), _hash_rows(ocols, orows)
            if h1 != h2:
                problems.append(f"hash {h1} vs {h2}")
                ex1 = sorted("|".join(_canon(r[i]) for i in sorted(range(len(cols)), key=lambda i: cols[i])) for r in rows)
                ex2 = sorted("|".join(_canon(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows)
                for a, b in zip(ex1, ex2):
                    if a != b:
                        print(f"      first diff:\n      spark: {a[:200]}\n      duck : {b[:200]}")
                        break
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(rows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
