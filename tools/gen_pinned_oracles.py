"""Regenerate pinned VALUES oracles for deterministic entries.

A pinned oracle turns a rows-only registry entry into a full value-hash
oracle by recording the entry's expected sf0.01 output as a VALUES
literal. This is sound because (a) the driver's testdata is seed-pinned
and read-only (TESTDATA.md: seed=42), (b) every pinned entry's SEMANTICS
are independently gated in tests/ (recall vs exact baselines, bit-parity
vs reference numpy loops, byte-roundtrip equality), and (c) the entries
are deterministic end-to-end: seeded k-means over ID-SORTED hash-samples
(operators/similarity.hash_sample_vectors), seeded LSH planes, seeded
entry points, and 6-decimal-rounded float outputs. The pin is a
regression LOCK, not an independent derivation — any drift in edge
selection, pruning, quantization, or search order flips the hash, which
is exactly what a correctness driver should see. Genuinely
non-deterministic entries (timing sweeps, streaming micro-batch state)
stay rows-only.

Rerun after an INTENTIONAL semantics change:

    python tools/gen_pinned_oracles.py [entry ...]   # default: all PINNABLE

It rewrites mysteryann_spark/queries/_pinned_oracles.py in place,
preserving pins for entries not named on the command line.
"""

from __future__ import annotations

import sys
from pathlib import Path

OUT = "mysteryann_spark/queries/_pinned_oracles.py"
HEADER = '''"""Pinned VALUES oracles — generated by tools/gen_pinned_oracles.py.

Do not edit by hand. See that tool's docstring for when to regenerate
and why a pinned hash oracle is sound for these entries.
"""

# fmt: off
'''

# Deterministic entries whose sf0.01 output is a constant of the seeded
# testdata. Entries with data-scaled float outputs round to 6dp in the
# query itself, so the literal round-trips DuckDB's parser exactly.
PINNABLE = [
    "roargraph_degrees",
    "roargraph_search_topk",
    "roargraph_search_ip",
    "roargraph_search_cosine",
    "roargraph_search_distributed",
    "roargraph_search_distributed_wide",
    # deterministic like the other search pins: exact label-frequency
    # counts pick the widening factor, the beam itself is lockstep
    "roargraph_search_filtered",
    "roargraph_build_ivf",
    "bipartite_search_topk",
    "roargraph_save_load_search",
    "roargraph_binary_interop",
    "roargraph_nsg_import",
    "roargraph_delete",
    "roargraph_insert",
    "ann_lsh_topk",
    # deterministic like the flat IVF-PQ pins: seeded two-level Lloyd
    # over the id-sorted hash-sample, lexsort (dist, id) routed scorer
    "ann_ivfpq_hier_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_persisted",
    "ann_ivfpq_vectors",
    "dedup_minhash_lsh",
    "dedup_ann_pairs",
    "dedup_groups_full",
    "dedup_semantic",
    "events_approx_distinct",
    "multimodal_decode",
    "multimodal_resize",
    "multimodal_audio_spectral",
    # deterministic: seeded moment partials + driver eigh; scalar rows
    # (vec_id, component, value) rounded to 6dp in the query itself
    "emb_pca_project",
    # deterministic across replays (tests/test_streaming.py gates
    # streamed-vs-bulk parity): final per-node degrees of the maintained
    # graph are a constant of the seeded testdata + batch protocol
    "roargraph_stream_insert",
    "roargraph_stream_maintain",
    # the machine-independent half of the sweep protocol (recall/rderr/
    # cmps/hops per L_pq); QPS/latency stay in rows-only roargraph_sweep
    "roargraph_sweep_quality",
]

_DUCK_TYPES = {
    "bigint": "BIGINT", "int": "BIGINT", "smallint": "BIGINT",
    "tinyint": "BIGINT", "double": "DOUBLE", "float": "DOUBLE",
    "string": "VARCHAR", "boolean": "BOOLEAN",
}


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        if v != v:  # NaN would need engine-specific spelling
            raise ValueError("NaN in pinned output")
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise TypeError(f"unpinnable value type {type(v)}")


def _pin_sql(df) -> str:
    fields = df.schema.fields
    types = []
    for f in fields:
        s = f.dataType.simpleString()
        if s not in _DUCK_TYPES:
            raise TypeError(f"column {f.name} has unpinnable type {s}")
        types.append(_DUCK_TYPES[s])
    rows = sorted(tuple(r) for r in df.collect())
    if not rows:
        raise ValueError("empty output; nothing to pin")
    tuples = ["(" + ", ".join(_lit(v) for v in row) + ")" for row in rows]
    # several tuples per line: a 500-row pin should read as data, not
    # inflate the module to thousands of lines
    per_line, lines = 4, []
    for i in range(0, len(tuples), per_line):
        lines.append("  " + ", ".join(tuples[i : i + per_line]))
    cols = ", ".join(
        f'CAST(col{i} AS {t}) AS "{f.name}"'
        for i, (f, t) in enumerate(zip(fields, types))
    )
    names = ", ".join(f"col{i}" for i in range(len(fields)))
    return (
        f"SELECT {cols}\nFROM (VALUES\n"
        + ",\n".join(lines)
        + f"\n) t({names})"
    )


def main() -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    only = set(sys.argv[1:]) or set(PINNABLE)

    from mysteryann_spark.queries.registry import all_queries
    from mysteryann_spark.session import get_spark

    # keep existing pins for entries outside this regeneration
    existing: dict[str, str] = {}
    try:
        from mysteryann_spark.queries import _pinned_oracles as cur

        existing = dict(cur.PINNED)
    except Exception:
        pass

    spark = get_spark(app_name="gen-pinned-oracles")
    specs = all_queries()
    pinned: dict[str, str] = {k: v for k, v in existing.items() if k not in only}
    for name in PINNABLE:
        if name not in only:
            continue
        if name not in specs:
            print(f"SKIP {name}: not in registry")
            continue
        try:
            sql = _pin_sql(specs[name].fn(spark, "/root/testdata/sf0.01"))
        except (TypeError, ValueError) as e:
            print(f"SKIP {name}: {e}")
            continue
        pinned[name] = sql
        print(f"pinned {name}: {sql.count(chr(10)) + 1} sql lines")

    with open(OUT, "w") as f:
        f.write(HEADER)
        f.write("PINNED = {\n")
        for name in sorted(pinned):
            f.write(f'    "{name}": """\n{pinned[name]}\n""",\n')
        f.write("}\n\n")
        # .get so a regeneration that skipped this entry still yields an
        # importable module (graph.py tolerates None — entry degrades to
        # rows-only instead of taking down the whole registry import)
        f.write('DEGREES_SF001_SQL = PINNED.get("roargraph_degrees")\n')
    if "roargraph_degrees" not in pinned:
        print("WARNING: roargraph_degrees missing from pins; "
              "DEGREES_SF001_SQL is None (entry degrades to rows-only)")
    print(f"wrote {OUT}: {len(pinned)} pinned oracles")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
