"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine comes from here, derived from
the ``--seed`` argument alone: the same seed always yields the same
inputs. Each independent stream draws from its own
``numpy.random.default_rng([seed, stream])`` so, for example, training
and held-out test queries never share random state.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
POINTS_PER_CENTER = 300

# independent random streams per seed
_BASE, _TRAIN, _TEST, _TABLES = 0, 1, 2, 3


def vector_sets(
    seed: int, n_base: int, n_train: int, n_test: int, dim: int = DIM
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Clustered base vectors plus training and test queries drawn from a
    shifted distribution (the cross-modal / out-of-distribution regime
    RoarGraph targets).

    Base: a Gaussian mixture at fixed density (``POINTS_PER_CENTER``
    points per center). Queries: the same centers, moved by one fixed
    "modality gap" vector and spread by per-dimension noise scales that
    differ from the base's isotropic noise. Returns float32 matrices
    ``(base, train_queries, test_queries)``.
    """
    rng = np.random.default_rng([seed, _BASE])
    n_centers = max(1, n_base // POINTS_PER_CENTER)
    centers = rng.standard_normal((n_centers, dim))
    base = centers[rng.integers(0, n_centers, n_base)]
    base = base + 0.5 * rng.standard_normal((n_base, dim))
    gap = 0.3 * rng.standard_normal(dim)
    scales = rng.uniform(0.3, 0.7, dim)

    def queries(stream: int, n: int) -> np.ndarray:
        r = np.random.default_rng([seed, stream])
        q = centers[r.integers(0, n_centers, n)] + gap
        return (q + scales * r.standard_normal((n, dim))).astype(np.float32)

    return base.astype(np.float32), queries(_TRAIN, n_train), queries(_TEST, n_test)


def vectors_table(mat: np.ndarray, id_col: str) -> pa.Table:
    """``(id_col BIGINT, embedding ARRAY<FLOAT>)`` with dense ids 0..n-1."""
    n, dim = mat.shape
    emb = pa.FixedSizeListArray.from_arrays(pa.array(mat.reshape(-1)), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({id_col: pa.array(np.arange(n, dtype=np.int64)), "embedding": emb})


# ---------------------------------------------------------------- tables
#
# A TPC-H-shaped star schema plus events / documents / embeddings with
# the schemas, domains and row counts of the engine's sf0.1 test tables
# (see FIXTURES.md at the repo root), regenerated from the seed so the
# benchmark needs no data outside its checkout.

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = d0 + rng.integers(0, (d1 - d0).astype(int) + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _vocabulary(size: int = 2000) -> np.ndarray:
    """The 30 engine words first, then pronounceable pseudo-words."""
    syll = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    extra = (syll[i % 70] + syll[(i // 70) % 70] + syll[(i * 7 + 3) % 70] for i in range(size))
    return np.array((_WORDS + list(dict.fromkeys(extra)))[:size])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    # Zipf-distributed tokens over a 2,000-word vocabulary: unrelated
    # documents share few distinct tokens, so near-duplicate detection
    # finds the planted copies below rather than most pairs of long
    # documents (a 30-word vocabulary puts long documents' token sets
    # near the Jaccard threshold, which makes the pair count, and the
    # dedup cost, swing with the seed)
    words = _vocabulary()
    p = 1.0 / np.arange(1, len(words) + 1)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.choice(len(words), k, p=p / p.sum())]) for k in lens]
    # ~5% near-duplicates (a copy plus one marker token) and a few exact
    # copies, so the dedup queries have pairs to find
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = DIM) -> pa.Table:
    labels = rng.integers(0, 10, n)
    mat = rng.standard_normal((10, dim))[labels] + 0.7 * rng.standard_normal((n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    tbl = vectors_table(mat.astype(np.float32), "vec_id")
    return tbl.append_column("label", pa.array(labels.astype(np.int32)))


def write_tables(seed: int, out_dir: str, sf: float = 0.1) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns row
    counts by table name."""
    rng = np.random.default_rng([seed, _TABLES])
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    n_events, n_docs, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    names = lambda p, n: pa.array([f"{p}#{i:09d}" for i in range(n)])  # noqa: E731
    flags = np.array(["A", "N", "R"])
    status = np.array(["F", "O"])
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(_REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(n_cust)),
                "c_name": names("Customer", n_cust),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(n_supp)),
                "s_name": names("Supplier", n_supp),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(range(n_part)),
                "p_name": pa.array(
                    [
                        f"{_ADJ[a]} {_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(np.array(_PTYPES)[rng.integers(0, 6, n_part)]),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(range(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
                "l_partkey": i64(rng.integers(0, n_part, n_line)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": pa.array(flags[rng.integers(0, 3, n_line)]),
                "l_linestatus": pa.array(status[rng.integers(0, 2, n_line)]),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(range(n_events)),
                "ts": pa.array(np.sort(ts0 + rng.integers(0, span_us, n_events).astype("timedelta64[us]"))),
                "user_id": i64(rng.integers(0, 1500, n_events)),
                "event_type": pa.array(np.array(_EVENTS)[rng.integers(0, 5, n_events)]),
                "value": np.round(rng.exponential(50.0, n_events), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
