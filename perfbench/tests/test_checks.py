"""The output checks can fail: each is fed a correct answer and broken ones.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
No Spark session is needed.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf"))
    inputs.write_tables(5, d, sf=0.1)
    return d


# ---------------------------------------------------------------- dedup_minhash_lsh


def _identical_pairs(sf_dir: str) -> pd.DataFrame:
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pandas()
    docs["key"] = docs["text"].map(lambda t: " ".join(sorted(set(t.split()))))
    m = docs.merge(docs, on="key")
    m = m[m["doc_id_x"] < m["doc_id_y"]]
    return pd.DataFrame({"id_a": m["doc_id_x"], "id_b": m["doc_id_y"], "jaccard": 1.0})


def test_lsh_check_accepts_identical_pairs(sf_dir):
    pairs = _identical_pairs(sf_dir)
    assert len(pairs) > 0
    extra = {}
    assert workloads._lsh_check(pairs, sf_dir, extra) is None
    assert extra["lsh_pairs"] == len(pairs)


def test_lsh_check_rejects_missing_and_false_pairs(sf_dir):
    pairs = _identical_pairs(sf_dir)
    assert "missing" in workloads._lsh_check(pairs.iloc[1:], sf_dir, {})
    assert "missing" in workloads._lsh_check(pairs.iloc[:0], sf_dir, {})
    unrelated = pd.DataFrame({"id_a": [0], "id_b": [1], "jaccard": [1.0]})
    assert "exact" in workloads._lsh_check(pd.concat([pairs, unrelated]), sf_dir, {})
    wrong_value = pairs.assign(jaccard=0.9)
    assert "exact" in workloads._lsh_check(wrong_value, sf_dir, {})


# ---------------------------------------------------------------- ann_ivf_topk


def _unit(sf_dir: str) -> np.ndarray:
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pandas()
    mat = np.stack(emb.sort_values("vec_id")["embedding"].to_numpy()).astype(np.float64)
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def _exact_top5(sf_dir: str) -> pd.DataFrame:
    unit = _unit(sf_dir)
    rows = []
    for q in range(workloads.IVF_QUERIES):
        d = 1.0 - unit @ unit[q]
        d[q] = np.inf
        for rank, nn in enumerate(np.argsort(d, kind="stable")[: workloads.IVF_K], start=1):
            rows.append((q, int(nn), round(float(d[nn]), 6), rank))
    return pd.DataFrame(rows, columns=["qid", "nn_id", "dist", "rank"])


def test_ivf_check_accepts_exact_answer(sf_dir):
    extra = {}
    assert workloads._ivf_check(_exact_top5(sf_dir), sf_dir, extra) is None
    assert extra["ivf_recall_at_5"] == 1.0


def test_ivf_check_rejects_broken_answers(sf_dir):
    top = _exact_top5(sf_dir)
    assert "answered queries" in workloads._ivf_check(top[top["qid"] != 3], sf_dir, {})
    assert "ranks" in workloads._ivf_check(top[top["rank"] != 5], sf_dir, {})
    selfish = top.copy()
    selfish.loc[0, "nn_id"] = 0
    assert "itself" in workloads._ivf_check(selfish, sf_dir, {})
    assert "distances" in workloads._ivf_check(top.assign(dist=top["dist"] + 0.01), sf_dir, {})
    # far neighbours with their true distances: consistent, but wrong
    unit = _unit(sf_dir)
    far = top.copy()
    far["nn_id"] = far["qid"] + 1000 + far["rank"]
    far["dist"] = [1.0 - unit[q] @ unit[nn] for q, nn in zip(far["qid"], far["nn_id"])]
    assert "recall" in workloads._ivf_check(far, sf_dir, {})


# ---------------------------------------------------------------- graph


class _Frame:
    """Stands in for a Spark DataFrame: ``_graph_check`` only collects."""

    def __init__(self, adj: dict[int, list[int]]):
        self.pdf = pd.DataFrame({"node": list(adj), "nbrs": list(adj.values())})

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


# a path 0-1-2 plus node 3 that only repair connects (bridge 2 <-> 3)
PRE = {0: [1], 1: [0, 2], 2: [1], 3: []}
POST = {0: [1], 1: [0, 2], 2: [1, 3], 3: [2]}


def test_graph_check_accepts_repaired_graph():
    err, digest = workloads._graph_check(_Frame(POST), _Frame(PRE), 0, 4, degree_cap=2)
    assert err is None
    # the hash ignores neighbour order
    same = {k: list(reversed(v)) for k, v in POST.items()}
    assert workloads._graph_check(_Frame(same), _Frame(PRE), 0, 4, degree_cap=2)[1] == digest


def test_graph_check_caps_only_the_graph_before_repair():
    check = workloads._graph_check
    # repair's uncapped fallback may push bridged nodes over the cap...
    pre = {0: [1], 1: [0], 2: [3], 3: [2]}
    post = {0: [1, 2], 1: [0], 2: [3, 0], 3: [2]}
    assert check(_Frame(post), _Frame(pre), 0, 4, degree_cap=1)[0] is None
    # ...but before repair no node may exceed it
    assert "before repair" in check(_Frame(POST), _Frame(PRE), 0, 4, degree_cap=1)[0]


def test_graph_check_rejects_broken_graphs():
    check = workloads._graph_check
    assert "expected 5" in check(_Frame(POST), _Frame(PRE), 0, 5, degree_cap=2)[0]
    dropped = {**POST, 1: [2]}
    assert "dropped" in check(_Frame(dropped), _Frame(PRE), 0, 4, degree_cap=2)[0]
    unrepaired = {**POST, 2: [1], 3: []}
    assert "unreachable" in check(_Frame(unrepaired), _Frame(PRE), 0, 4, degree_cap=2)[0]
