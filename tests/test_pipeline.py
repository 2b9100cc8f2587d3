"""Property gates for the rows-only pipeline operators (MinHash-LSH,
SimHash, LSH-ANN, multimodal decode)."""

import pytest
from pyspark.sql import functions as F

from mysteryann_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_bits,
    simhash_hamming_pairs,
)
from mysteryann_spark.operators.knn import knn_join
from mysteryann_spark.operators.multimodal import (
    decode_frames,
    synth_media_from_documents,
)
from mysteryann_spark.operators.similarity import lsh_cosine_topk
from mysteryann_spark.sources.tables import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, "documents", SF_DIR).where(F.col("doc_id") < 100).cache()


def test_minhash_finds_high_jaccard_pairs(spark, docs):
    """LSH candidates must cover nearly all truly-similar pairs: with 32
    perms / 8 bands the s-curve passes ~0.9997 at jaccard 0.9."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, n=1, threshold=0.9).collect()
    }
    assert len(exact) > 10  # sanity: testdata has high-jaccard pairs
    found = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, num_perm=32, bands=8, threshold=0.5).collect()
    }
    missed = exact - found
    assert len(missed) <= max(1, len(exact) // 20), f"missed {len(missed)}/{len(exact)}"


def test_lsh_grouping_pairs_equal_all_pairs_and_no_cartesian(spark, docs):
    """dedup_groups' LSH candidate generator (64 perms / 32 bands of 2)
    must produce the IDENTICAL verified pair set as the exact all-pairs
    generator at threshold 0.9 — that equality is what lets the curate /
    components recursive-CTE oracles hash-match — and its plan must be
    equi-join only (no cartesian, no BroadcastNestedLoopJoin)."""
    from mysteryann_spark.plans.inspect import formatted_plan

    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=1, threshold=0.9).collect()
    }
    lsh_df = minhash_lsh_pairs(docs, num_perm=64, bands=32, threshold=0.9)
    lsh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in lsh_df.collect()}
    assert set(lsh) == set(exact)
    for p, j in lsh.items():
        assert abs(j - exact[p]) < 1e-9, p
    plan = formatted_plan(lsh_df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_member_pair_expansion_is_row_capped():
    """Two 10^3-member duplicate groups expand to their full 10^6 doc
    pairs, in frames of at most the row cap, with the same pair set and
    values as a one-shot cross product."""
    import numpy as np
    import pandas as pd

    from mysteryann_spark.operators.dedup import _PAIR_ROWS, _expand_member_pairs

    rng = np.random.default_rng(2)
    # reps 0 and 1: 1,000 members each; rep 2: 3 members; rep 3: none
    mflat = rng.permutation(2003).astype(np.int64)
    mind = np.array([0, 1000, 2000, 2003, 2003], dtype=np.int64)
    ka, kb = np.array([0, 3, 2]), np.array([1, 0, 1])
    est, jac = np.array([0.9, 0.7, 0.85]), np.array([0.95, 0.75, 0.8])

    def cross(i):
        x, y = np.meshgrid(mflat[mind[ka[i]]:mind[ka[i] + 1]],
                           mflat[mind[kb[i]]:mind[kb[i] + 1]], indexing="ij")
        x, y = x.ravel(), y.ravel()
        return pd.DataFrame({"id_a": np.minimum(x, y), "id_b": np.maximum(x, y),
                             "est_jaccard": est[i], "jaccard": jac[i]})

    want = pd.concat([cross(i) for i in range(len(ka))], ignore_index=True)
    assert len(want) == 1000 * 1000 + 3 * 1000
    for cap in (300_000, 7, _PAIR_ROWS):
        if cap == 7:  # tiny cap: only a slice of the expansion, for speed
            frames = list(_expand_member_pairs(ka[2:], kb[2:], est[2:], jac[2:], mind, mflat, cap))
            expect = want.iloc[-3000:].reset_index(drop=True)
        else:
            frames = list(_expand_member_pairs(ka, kb, est, jac, mind, mflat, cap))
            expect = want
        assert max(len(f) for f in frames) <= cap
        assert len(frames) == -(-len(expect) // cap)
        got = pd.concat(frames, ignore_index=True)
        pd.testing.assert_frame_equal(got, expect, check_dtype=False)
        assert (got["id_a"] < got["id_b"]).all()


def test_minhash_pairs_independent_of_frame_cap(spark, docs, monkeypatch):
    """The verify kernel's doc-pair output does not depend on how its
    expansion is cut into frames."""
    from mysteryann_spark.operators import dedup

    def pairs():
        return sorted(
            tuple(r) for r in minhash_lsh_pairs(docs, num_perm=32, bands=8, threshold=0.5).collect()
        )

    full = pairs()
    assert any(j < 1.0 for *_, j in full)  # some pairs come from the kernel
    monkeypatch.setattr(dedup, "_PAIR_ROWS", 1)
    assert pairs() == full


def test_minhash_single_python_stage_downstream_of_staging(spark, docs):
    """r12 plan-shape lock: banding is fused into the staging write (one
    Arrow kernel in the out-of-plan staging job), so the returned pairs
    plan must contain exactly ONE Python stage — the verify kernel — and
    no banding MapInPandas/MapInArrow on either side of the bucket
    self-join (pre-r12 the band kernel executed twice: probe + broadcast
    build, each paying the fixed Python-stage floor)."""
    from mysteryann_spark.plans.inspect import formatted_plan

    import re

    plan = formatted_plan(minhash_lsh_pairs(docs, num_perm=32, bands=8, threshold=0.5))
    # count operator-detail headers ("(n) MapInPandas"), not tree echoes
    n_python = len(re.findall(r"^\(\d+\) (?:MapInPandas|MapInArrow)", plan, re.M))
    assert n_python == 1, plan


def test_minhash_estimates_track_jaccard(spark, docs):
    rows = minhash_lsh_pairs(docs, num_perm=32, bands=8, threshold=0.5).collect()
    assert rows
    err = sum(abs(r["est_jaccard"] - r["jaccard"]) for r in rows) / len(rows)
    assert err < 0.2  # 32-perm estimator: sd ~ sqrt(j(1-j)/32) ~ 0.09


def test_simhash_deterministic_and_discriminative(spark, docs):
    a = {r["doc_id"]: r["simhash"] for r in simhash_bits(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash_bits(docs).collect()}
    assert a == b
    assert all(len(h) == 64 and set(h) <= {"0", "1"} for h in a.values())
    # simhash is an order-invariant bag-of-words signature: a word-permuted
    # copy of each doc must land at hamming distance 0 from the original
    # (the testdata itself has no near-dups — they're constructed here)
    reordered = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), r"\s+")), " ").alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(reordered)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(both, max_hamming=0).collect()
    }
    for did in a:
        assert pairs.get((did, did + 10_000)) == 0, did


def test_simhash_pigeonhole_equals_all_pairs(spark, docs):
    """Pigeonhole banding is EXACT for hamming <= max_h < bands: the pair
    set (and distances) must equal the all-pairs baseline, on a corpus
    augmented with constructed near-dups (a word-permuted copy at hamming
    0 and single-token-appended copies at small nonzero distances), and
    the plan must contain no cartesian / nested-loop join."""
    from mysteryann_spark.operators.dedup import simhash_pigeonhole_pairs
    from mysteryann_spark.plans.inspect import formatted_plan

    permuted = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), r"\s+")), " ").alias("text"),
    )
    appended = docs.select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.lit("zzzuniquetoken")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(permuted).unionByName(appended)
    exact = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(corpus, max_hamming=3).collect()
    }
    assert len(exact) > 100  # permuted copies guarantee hamming-0 pairs
    assert any(h > 0 for h in exact.values())  # and some nonzero distances
    banded_df = simhash_pigeonhole_pairs(corpus, max_hamming=3)
    banded = {(r["id_a"], r["id_b"]): r["hamming"] for r in banded_df.collect()}
    assert banded == exact
    plan = formatted_plan(banded_df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pigeonhole_exact_with_remainder_chunks(spark, docs):
    """max_hamming=4 -> 5 bands over 64 bits (non-divisible: four 12-bit
    chunks + one 16-bit remainder chunk). Every signature bit must still
    participate, so the pair set and hamming distances must equal the
    all-pairs baseline — the regression was silently truncating the top
    4 bits for any bands not dividing 64."""
    from mysteryann_spark.operators.dedup import simhash_pigeonhole_pairs

    appended = docs.select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.lit("zzzuniquetoken")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(appended)
    exact = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(corpus, max_hamming=4).collect()
    }
    banded = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pigeonhole_pairs(corpus, max_hamming=4).collect()
    }
    assert banded == exact
    assert len(exact) > 50


def test_lsh_params_scale_with_threshold():
    """Banding must be sized from the threshold so borderline-pair miss
    probability stays under the bound at ANY threshold, not just 0.9."""
    from mysteryann_spark.operators.dedup import lsh_params_for

    for t in (0.95, 0.9, 0.7, 0.5, 0.3, 0.2):
        num_perm, bands = lsh_params_for(t)
        rows = num_perm // bands
        assert num_perm % bands == 0 and num_perm <= 192
        miss = (1.0 - t**rows) ** bands
        assert miss <= 1e-15, (t, num_perm, bands, miss)
    # below the supported range the LSH path must refuse (callers fall
    # back to the exact generator)
    assert lsh_params_for(0.05) is None


def test_lsh_ann_recall_vs_bruteforce(spark, emb):
    q = emb.where("vec_id < 50").select(F.col("vec_id").alias("qid"), "embedding")
    exact = knn_join(q, emb, 5, "cosine", exclude_self=True)
    approx = lsh_cosine_topk(q, emb, 5, bits=4, tables=8)
    e = {(r["qid"], r["nn_id"]) for r in exact.collect()}
    a = {(r["qid"], r["nn_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"LSH recall {recall}"  # cheap-path bar; graph ANN is the quality path


def test_lsh_ann_zero_norm_query_scores_zero(spark):
    """An all-zero query has no direction: the exact rerank scores each of
    its candidates 0 (-cos with the zero-norm guard), never 0/0 = null."""
    import numpy as np

    vecs = np.random.default_rng(7).normal(size=(60, 8))
    vecs[0] = 0.0
    base = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    q = base.where("vec_id = 0").select(F.col("vec_id").alias("qid"), "embedding")
    rows = lsh_cosine_topk(q, base, 5, bits=4, tables=8).collect()
    assert rows
    assert all(r["dist"] is not None and r["dist"] == 0.0 for r in rows), rows


def test_lsh_ann_neighbor_met_in_several_tables_returned_once(spark):
    """A base row identical to the query shares its bucket in every
    table: the list scan meets the pair once per table and must return
    that neighbour once, at rank 1, with the other ranks filled by
    distinct rows."""
    import numpy as np

    vecs = np.random.default_rng(11).normal(size=(80, 8))
    vecs[1] = vecs[0]
    base = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    q = base.where("vec_id = 0").select(F.col("vec_id").alias("qid"), "embedding")
    rows = sorted(lsh_cosine_topk(q, base, 5, bits=2, tables=8).collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert rows[0]["nn_id"] == 1 and abs(rows[0]["dist"] + 1.0) < 1e-12
    assert len({r["nn_id"] for r in rows}) == 5 and 0 not in {r["nn_id"] for r in rows}


def test_multimodal_decode_shapes(spark):
    docs_full = load_table(spark, "documents", SF_DIR)
    media = synth_media_from_documents(docs_full)
    frames = decode_frames(media).collect()
    per_media = {}
    for r in frames:
        per_media.setdefault(r["media_id"], []).append(r)
    n_frames = {r["media_id"]: r["n_frames"] for r in media.collect()}
    assert len(per_media) == docs_full.count()
    for mid, rows in per_media.items():
        assert len(rows) == n_frames[mid]
        assert sorted(r["frame_idx"] for r in rows) == list(range(len(rows)))
        assert len({r["frame_md5"] for r in rows}) == len(rows)  # per-frame distinct


def test_multimodal_real_decode_rejects_unknown_format(spark):
    """real_decode is no longer a stub — it decodes PPM/BMP for real —
    but an unknown payload format must still fail loudly, not silently."""
    docs_full = load_table(spark, "documents", SF_DIR)
    media = synth_media_from_documents(docs_full)  # payloads are raw text
    with pytest.raises(Exception, match="unsupported image magic"):
        decode_frames(media, real_decode=True).collect()


def test_quantized_ann_recall_vs_bruteforce(spark, emb):
    """int8 SQ must barely perturb cosine ranks at 64 dims."""
    from mysteryann_spark.operators.similarity import quantized_cosine_topk

    q = emb.where("vec_id < 50").select(F.col("vec_id").alias("qid"), "embedding")
    exact = knn_join(q, emb, 5, "cosine", exclude_self=True)
    quant = quantized_cosine_topk(q, emb, 5)
    e = {(r["qid"], r["nn_id"]) for r in exact.collect()}
    a = {(r["qid"], r["nn_id"]) for r in quant.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"SQ8 recall {recall}"


def test_ivf_ann_recall_and_determinism(spark, emb):
    """The ann_ivf_topk geometry: cosine IVF join, 6 of 16 lists."""
    from mysteryann_spark.operators.knn_approx import ivf_knn_join

    def ivf():
        return ivf_knn_join(
            q, emb, 5, "cosine", n_centroids=16, n_probe=6, exclude_self=True
        )

    q = emb.where("vec_id < 50").select(F.col("vec_id").alias("qid"), "embedding")
    exact = knn_join(q, emb, 5, "cosine", exclude_self=True)
    e = {(r["qid"], r["nn_id"]) for r in exact.collect()}
    a = {(r["qid"], r["nn_id"]) for r in ivf().collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"IVF recall {recall}"
    # seeded KMeans -> identical rerun
    again = {(r["qid"], r["nn_id"]) for r in ivf().collect()}
    assert a == again


def test_pq_ann_recall_determinism_and_code_range(spark, emb):
    """PQ (ADC-equivalent reconstruction scan + exact refine) must hold
    high recall at 64-d, rerun identically (seeded codebooks), and emit
    codes inside [0, n_codes) — the persisted-index compression contract."""
    from mysteryann_spark.operators.similarity import (
        pq_cosine_topk,
        pq_encode_udf,
        train_pq_codebooks,
    )

    q = emb.where("vec_id < 50").select(F.col("vec_id").alias("qid"), "embedding")
    exact = knn_join(q, emb, 5, "cosine", exclude_self=True)
    approx = pq_cosine_topk(q, emb, 5)
    e = {(r["qid"], r["nn_id"]) for r in exact.collect()}
    rows = approx.collect()
    a = {(r["qid"], r["nn_id"]) for r in rows}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"PQ recall {recall}"
    again = {(r["qid"], r["nn_id"]) for r in pq_cosine_topk(q, emb, 5).collect()}
    assert a == again
    bc = train_pq_codebooks(emb, 8, 64, 8, 42, 4096, "vec_id", "embedding")
    codes = emb.select(pq_encode_udf(bc)(F.col("embedding")).alias("c")).collect()
    for r in codes:
        assert len(r["c"]) == 8 and all(0 <= v < 64 for v in r["c"])


def test_pq_topk_builds_without_a_count_job(spark, emb, monkeypatch):
    """``pq_cosine_topk`` sizes its rerank broadcasts from the staged
    query footers (``staging.staged_row_count``): building the call runs
    no ``DataFrame.count``, and the result equals ``pq_cosine_topk`` as
    the recall test above runs it."""
    from pyspark.sql import DataFrame

    from mysteryann_spark.operators.similarity import pq_cosine_topk

    q = emb.where("vec_id < 20").select(F.col("vec_id").alias("qid"), "embedding")
    want = sorted(tuple(r) for r in pq_cosine_topk(q, emb, 5).collect())

    def no_count(self):
        raise AssertionError("pq_cosine_topk ran a count job")

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "count", no_count)
        built = pq_cosine_topk(q, emb, 5)
    assert sorted(tuple(r) for r in built.collect()) == want


def test_ivfpq_ann_recall_and_determinism(spark, emb):
    """IVF routing + PQ ADC scoring + exact refine (the IndexIVFPQ
    composition) must hold recall and rerun identically."""
    from mysteryann_spark.operators.similarity import ivfpq_cosine_topk

    q = emb.where("vec_id < 50").select(F.col("vec_id").alias("qid"), "embedding")
    exact = knn_join(q, emb, 5, "cosine", exclude_self=True)
    approx = ivfpq_cosine_topk(q, emb, 5, n_centroids=16, n_probe=6)
    e = {(r["qid"], r["nn_id"]) for r in exact.collect()}
    a = {(r["qid"], r["nn_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # bounded below by the IVF routing loss (same probes as the IVF gate)
    assert recall >= 0.7, f"IVF-PQ recall {recall}"
    again = {(r["qid"], r["nn_id"]) for r in ivfpq_cosine_topk(
        q, emb, 5, n_centroids=16, n_probe=6).collect()}
    assert a == again


def test_connected_components_known_graph(spark):
    """Hand-checked fixture: two triangles bridged to nothing + a chain +
    isolated nodes."""
    from mysteryann_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21)],
        "src long, dst long",
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 12, 20, 21, 99)], "id long")
    got = {r["id"]: r["comp"] for r in connected_components(edges, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 99: 99}
    # a 400-node path (diameter 399) is one component labelled by its min id
    path_edges = spark.createDataFrame([(i + 1, i) for i in range(399)], "src long, dst long")
    path_nodes = spark.createDataFrame([(i,) for i in range(400)], "id long")
    rows = connected_components(path_edges, path_nodes).collect()
    assert len(rows) == 400 and {r["comp"] for r in rows} == {0}


def test_dedup_groups_full_corpus_matches_all_pairs(spark):
    """Full-corpus grouping (LSH candidates) must produce the identical
    component labeling as the independent all-pairs path on the whole
    sf0.01 corpus — no slice anywhere."""
    from mysteryann_spark.operators.dedup import connected_components, dedup_groups

    full = load_table(spark, "documents", SF_DIR)
    got = {r["doc_id"]: r["component"] for r in dedup_groups(full, 0.9, n=1).collect()}
    pairs = ngram_jaccard_pairs(full, n=1, threshold=0.9)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    nodes = full.select(F.col("doc_id").alias("id"))
    ref = {r["id"]: r["comp"] for r in connected_components(edges, nodes).collect()}
    assert got == ref
    assert len(set(got.values())) < len(got)  # corpus really has dup groups


def _union_find(src, dst):
    """Pure-Python reference: {id: min id of its component} over the
    edge endpoints."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src, dst):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _check_roots(src, dst):
    import numpy as np

    from mysteryann_spark.operators.dedup import _component_roots

    src, dst = np.asarray(src, dtype=np.int64), np.asarray(dst, dtype=np.int64)
    ids, comp = _component_roots(src, dst)
    ref = _union_find(src.tolist(), dst.tolist())
    assert ids.tolist() == sorted(ref)
    assert dict(zip(ids.tolist(), comp.tolist())) == ref


def test_component_roots_match_union_find():
    """The hook-and-compress kernel labels every endpoint with its
    component's min id, like a pure-Python union-find: seeded random
    graphs over dense and sparse 64-bit ids (self-loops and duplicate
    edges arise at random), long shuffled chains, and edge cases."""
    import numpy as np

    rng = np.random.default_rng(7)
    for trial in range(200):
        n = int(rng.integers(1, 120))
        m = int(rng.integers(0, 2 * n))
        pool = (
            np.sort(rng.choice(np.iinfo(np.int64).max, n, replace=False))
            if trial % 2
            else np.arange(n)
        )
        src, dst = pool[rng.integers(0, n, m)], pool[rng.integers(0, n, m)]
        if trial % 3 == 0:  # force duplicate edges and self-loops
            src, dst = np.concatenate([src, src, pool[:3]]), np.concatenate([dst, dst, pool[:3]])
        _check_roots(src, dst)
    for n in (2, 50, 3000):  # shuffled chains: diameter n - 1
        perm = rng.permutation(n) * 1_000_003 + (1 << 40)
        _check_roots(perm[:-1], perm[1:])
    _check_roots([], [])
    _check_roots([5, 5], [5, 5])  # self-loop only
    _check_roots([-3, 2**62], [2**62, 7])  # negative and large ids


def test_connected_components_job_count_independent_of_diameter(spark):
    """Labelling a 20-node and a 400-node path costs the same, small,
    number of Spark jobs: a per-round propagation loop would scale with
    the diameter."""
    from mysteryann_spark.operators.dedup import connected_components

    sc = spark.sparkContext

    def path_jobs(n: int) -> int:
        edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        group = f"components-path-{n}"
        sc.setJobGroup(group, "connected-components job-count guard")
        try:
            rows = connected_components(edges, nodes).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(rows) == n and {r["comp"] for r in rows} == {0}
        return len(sc.statusTracker().getJobIdsForGroup(group))

    near, far = path_jobs(20), path_jobs(400)
    assert near == far <= 3, (near, far)


def test_connected_components_rejects_pairs_above_host_ceiling(spark, monkeypatch):
    """Above the host-derived pair ceiling the operator raises a
    ValueError naming the pair count, and runs no job after the staged
    write of the edges."""
    from mysteryann_spark.operators import dedup
    from mysteryann_spark.sources import staging

    sc = spark.sparkContext
    group = "components-ceiling"

    def jobs() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    after_write = []
    real_stage = staging.stage_parquet

    def stage_and_count(df, *args, **kwargs):
        path = real_stage(df, *args, **kwargs)
        after_write.append(jobs())
        return path

    monkeypatch.setattr(staging, "stage_parquet", stage_and_count)
    monkeypatch.setattr(dedup, "_EDGE_BYTES", 1 << 40)  # the limit rounds to 0 edges
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
    sc.setJobGroup(group, "connected-components ceiling")
    try:
        with pytest.raises(ValueError, match=r"\b3 pair edges exceed the limit of 0 "):
            dedup.connected_components(edges, nodes)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(after_write) == 1 and jobs() == after_write[0] >= 1, (after_write, jobs())


def test_minhash_rejects_verify_artifact_above_host_ceiling(spark, docs, monkeypatch):
    """Above the host-derived ceiling the MinHash operator raises a
    ValueError naming the artifact size and the limit, and runs no job
    after the staged write of the per-rep table."""
    from mysteryann_spark.functions.text import tokens_col
    from mysteryann_spark.operators import dedup
    from mysteryann_spark.session import worker_mem_mb
    from mysteryann_spark.sources import staging

    sc = spark.sparkContext
    group = "minhash-ceiling"

    def jobs() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    after_write = []
    real_stage = staging.stage_parquet

    def stage_and_count(df, *args, **kwargs):
        path = real_stage(df, *args, **kwargs)
        after_write.append(jobs())
        return path

    monkeypatch.setattr(staging, "stage_parquet", stage_and_count)
    # 1 GB per rep, token and member: every count the footers give shows
    # in the size, and the limit is below one rep
    monkeypatch.setattr(dedup, "_VERIFY_BYTES", (1 << 30, 1 << 30, 1 << 30))
    sets = docs.select(F.array_sort(F.array_distinct(tokens_col("text"))).alias("s")).distinct()
    n_reps, n_tokens = sets.agg(F.count("*"), F.sum(F.size("s"))).first()
    need_mb = (n_reps + n_tokens + docs.count()) << 10
    sc.setJobGroup(group, "minhash verify ceiling")
    try:
        with pytest.raises(ValueError) as err:
            minhash_lsh_pairs(docs, num_perm=32, bands=8, threshold=0.5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    msg = str(err.value)
    assert f" {n_reps} distinct token sets needs {need_mb} MB" in msg, msg
    assert f"limit of {worker_mem_mb()} MB" in msg, msg
    assert len(after_write) == 1 and jobs() == after_write[0] >= 1, (after_write, jobs())


def test_minhash_rejects_bucket_broadcast_above_driver_memory(spark, docs, monkeypatch):
    """Above ``spark.driver.memory`` the MinHash operator raises a
    ValueError naming the broadcast's row count, its size and the limit,
    and runs no job after the staged write of the per-rep table (Spark's
    own failure would come from inside the join job, as "Not enough
    memory to build and broadcast the table")."""
    from mysteryann_spark.functions.text import tokens_col
    from mysteryann_spark.operators import dedup
    from mysteryann_spark.session import driver_mem_mb
    from mysteryann_spark.sources import staging

    sc = spark.sparkContext
    group = "minhash-broadcast-ceiling"

    def jobs() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    after_write = []
    real_stage = staging.stage_parquet

    def stage_and_count(df, *args, **kwargs):
        path = real_stage(df, *args, **kwargs)
        after_write.append(jobs())
        return path

    monkeypatch.setattr(staging, "stage_parquet", stage_and_count)
    # 1 GB per broadcast row: the limit is below a few dozen rows
    monkeypatch.setattr(dedup, "_BUCKET_ROW_BYTES", 1 << 30)
    sets = docs.select(F.array_sort(F.array_distinct(tokens_col("text"))).alias("s")).distinct()
    n_reps = sets.count()
    rows = n_reps * 8
    assert rows << 10 > driver_mem_mb(spark)
    sc.setJobGroup(group, "minhash broadcast ceiling")
    try:
        with pytest.raises(ValueError) as err:
            minhash_lsh_pairs(docs, num_perm=32, bands=8, threshold=0.5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    msg = str(err.value)
    assert f"broadcasts {rows} rows ({n_reps} distinct token sets x 8 bands), {rows << 10} MB" in msg, msg
    assert f"spark.driver.memory of {driver_mem_mb(spark)} MB" in msg, msg
    assert len(after_write) == 1 and jobs() == after_write[0] >= 1, (after_write, jobs())


def test_minhash_verify_signs_only_surviving_reps(tmp_path):
    """The host-shared verify artifact holds no (reps x num_perm)
    signature matrix; the kernel's estimate over a subset of rep pairs
    is bit-identical to indexing the whole table's signature matrix."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysteryann_spark.operators import dedup

    rng = np.random.default_rng(7)
    n, num_perm, seed = 400, 64, 42
    sets = [np.unique(rng.integers(-(2**62), 2**62, rng.integers(0, 30))) for _ in range(n)]
    sets += [np.unique(np.r_[s[: len(s) // 2], rng.integers(0, 50, 5)]) for s in sets[:100]]
    staged = str(tmp_path / "reps.parquet")
    pq.write_table(
        pa.table(
            {
                "rep": pa.array(np.arange(len(sets), dtype=np.int64) * 3),
                "htok": pa.array([s.tolist() for s in sets], pa.list_(pa.int64())),
                "members": pa.array([[3 * i] for i in range(len(sets))], pa.list_(pa.int64())),
            }
        ),
        staged,
    )
    art = dedup._verify_artifact(staged)
    assert all(a.size != len(sets) * num_perm for a in art)
    _, indptr, _, _, frank, _, vocab = art
    flat = np.concatenate(sets).astype(np.int64)
    full = dedup._minhash_mat(indptr, flat, num_perm, seed)
    ka = rng.integers(0, len(sets), 300)
    kb = rng.integers(0, len(sets), 300)
    ka[:100], kb[:100] = np.arange(100), np.arange(n, n + 100)
    est = dedup._est_jaccard(ka, kb, indptr, frank, vocab, num_perm, seed)
    want = (full[ka] == full[kb]).mean(axis=1)
    assert est.dtype == want.dtype and np.array_equal(est, want)
    assert len(dedup._est_jaccard(ka[:0], kb[:0], indptr, frank, vocab, num_perm, seed)) == 0


def test_salted_join_rejects_right_preserving_types(spark):
    """Right/full outer would duplicate unmatched right rows once per
    salt — the operator must refuse instead of silently multiplying."""
    import pytest as _pytest

    from mysteryann_spark.operators.skew import salted_join

    left = spark.createDataFrame([(1, 10)], "k long, lv long")
    right = spark.createDataFrame([(2, 20)], "k long, rv long")
    for how in ("right", "full", "full_outer", "cross"):
        with _pytest.raises(ValueError, match="salted_join supports"):
            salted_join(left, right, "k", how=how)


def test_salted_join_left_and_semi_types(spark):
    """Supported non-inner types must match the plain join exactly."""
    from mysteryann_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(1 if i < 90 else i % 7, i) for i in range(100)], "k long, lv long"
    )
    right = spark.createDataFrame([(i, i * 10) for i in range(5)], "k long, rv long")
    for how in ("left", "left_semi", "left_anti"):
        plain = sorted(map(tuple, left.join(right, "k", how).collect()))
        salted = sorted(map(tuple, salted_join(left, right, "k", n_salts=4, how=how).collect()))
        assert salted == plain, how
        hot = sorted(map(tuple, salted_join(
            left, right, "k", n_salts=4, how=how, hot_keys=[1]).collect()))
        assert hot == plain, how


def test_salted_join_equals_plain_join(spark):
    """Salting must be result-invariant: same rows as the plain join on a
    skewed key distribution (one key owns 90% of the left side)."""
    from mysteryann_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(1 if i < 900 else i % 50, i) for i in range(1000)], "k long, lv long"
    )
    right = spark.createDataFrame([(i, i * 10) for i in range(50)], "k long, rv long")
    plain = sorted(map(tuple, left.join(right, "k").collect()))
    salted = sorted(map(tuple, salted_join(left, right, "k", n_salts=8).collect()))
    assert salted == plain
    hot = sorted(map(tuple, salted_join(left, right, "k", n_salts=8, hot_keys=[1]).collect()))
    assert hot == plain


def test_ann_neardup_covers_exact_pairs(spark, emb):
    """Graph-ANN near-dup pairs (the 100 TB path) must recover nearly all
    pairs the exact O(N^2) sweep finds at the same threshold."""
    from mysteryann_spark.operators.dedup import ann_neardup_pairs, embedding_neardup_pairs

    th = 0.35  # this corpus has no high-cosine pairs; 0.35 yields a real pair set
    exact = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(emb, th).collect()}
    assert len(exact) > 20
    approx = {
        (r["id_a"], r["id_b"]): r["cos_sim"] for r in ann_neardup_pairs(emb, th, k=10).collect()
    }
    covered = len(exact & approx.keys()) / len(exact)
    assert covered >= 0.9, f"ann near-dup pair recall {covered} ({len(exact)} exact)"
    # no false positives: every reported pair really clears the threshold,
    # with the exact sweep's similarity
    sims = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in embedding_neardup_pairs(emb, 0.0).collect()}
    for p, sim in approx.items():
        assert sims.get(p, 0.0) >= th - 1e-9, p
        assert abs(sim - sims[p]) <= 1e-9, (p, sim, sims[p])


def test_range_join_matches_bruteforce(spark, emb):
    """Every (query, base) pair within the radius — no more, no fewer —
    against an independent numpy recomputation; with ``match_col``,
    every such pair whose labels match. Label 98 is held only by
    queries and label 99 only by the base, so both find no pair."""
    import numpy as np

    from mysteryann_spark.operators.knn import range_join

    base = emb.withColumn(
        "lab", F.when(F.col("vec_id") % 7 == 0, 99).otherwise(F.col("vec_id") % 3)
    )
    q = base.where("vec_id < 20").select(
        F.col("vec_id").alias("qid"),
        "embedding",
        F.when(F.col("vec_id") < 3, 98).otherwise(F.col("vec_id") % 3).alias("lab"),
    )
    rows = base.select("vec_id", "embedding", "lab").collect()
    ids = np.array([r["vec_id"] for r in rows])
    blabs = {r["vec_id"]: r["lab"] for r in rows}
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    qmask = ids < 20
    qlabs = {r["qid"]: r["lab"] for r in q.collect()}
    qq = (mat[qmask] ** 2).sum(1)[:, None]
    bb = (mat**2).sum(1)[None, :]
    d = np.maximum(qq + bb - 2.0 * mat[qmask] @ mat.T, 0.0)
    want = {}
    for qi, qid in enumerate(ids[qmask]):
        for bi, bid in enumerate(ids):
            if bid != qid and d[qi, bi] <= 1.4:
                want[(int(qid), int(bid))] = d[qi, bi]
    want_matched = {p: v for p, v in want.items() if qlabs[p[0]] == blabs[p[1]]}
    assert 0 < len(want_matched) < len(want)
    assert any(qlabs[a] == 98 or blabs[b] == 99 for a, b in want)
    for match_col, expect in ((None, want), ("lab", want_matched)):
        got = {
            (r["qid"], r["nn_id"]): r["dist"]
            for r in range_join(
                q, base, radius=1.4, metric="l2", exclude_self=True, match_col=match_col
            ).collect()
        }
        assert set(got) == set(expect), match_col
        for k, v in got.items():
            assert abs(v - expect[k]) < 1e-9


def test_semantic_dedup_properties(spark, emb):
    """Survivor-set invariants: each group keeps exactly its min id;
    every dropped row shares a cluster-and-group with its survivor; the
    whole output is deterministic across runs."""
    from mysteryann_spark.operators.dedup import semantic_dedup

    out = semantic_dedup(emb, threshold=0.5, n_clusters=16).collect()
    assert len(out) == emb.count()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, rows in by_comp.items():
        ids = sorted(r["vec_id"] for r in rows)
        assert comp == ids[0]
        keeps = [r["vec_id"] for r in rows if r["keep"] == 1]
        assert keeps == [comp]
        # a semantic group never spans clusters: pairs are generated
        # within-cluster only, and components are unions of pair edges
        assert len({r["cluster_id"] for r in rows}) == 1 or len(rows) == 1
    again = semantic_dedup(emb, threshold=0.5, n_clusters=16).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pii_scrub_detects_and_redacts(spark):
    from mysteryann_spark.functions.text import pii_counts_cols, pii_scrub
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (0, "reach me at jane.doe+spam@corp.example.org thanks"),
            (1, "server 192.168.1.254 and backup 10.0.0.7"),
            (2, "call 555-0142 or 800-555-1212 ext 9"),
            (3, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    c = pii_counts_cols(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            c["n_emails"].alias("e"),
            c["n_ips"].alias("i"),
            c["n_phones"].alias("p"),
            pii_scrub(F.col("text")).alias("s"),
        ).collect()
    }
    assert (rows[0]["e"], rows[0]["i"], rows[0]["p"]) == (1, 0, 0)
    assert "<EMAIL>" in rows[0]["s"] and "@" not in rows[0]["s"]
    assert (rows[1]["e"], rows[1]["i"], rows[1]["p"]) == (0, 2, 0)
    assert rows[1]["s"].count("<IP>") == 2
    # 800-555-1212 contains the 3-4 digit shape at "555-1212"
    assert rows[2]["p"] == 2 and rows[2]["s"].count("<PHONE>") == 2
    assert rows[3]["s"] == "clean text with no pii at all"


def test_gopher_rules_fire_individually(spark):
    from mysteryann_spark.functions.text import gopher_quality_cols
    from pyspark.sql import functions as F

    long_ok = "the quick brown fox jumps over a lazy dog near the river bank " * 5
    df = spark.createDataFrame(
        [
            (0, long_ok),  # passes every rule
            (1, "too short for the corpus"),  # word count < 50
            (2, " ".join(["supercalifragilistic"] * 60)),  # mean len + stopwords
            (3, " ".join(["xy"] * 60)),  # mean word length < 3
        ],
        "doc_id long, text string",
    )
    g = gopher_quality_cols(F.col("text"))
    rows = {
        r["doc_id"]: r["ok"]
        for r in df.select("doc_id", g["passes_gopher"].alias("ok")).collect()
    }
    assert rows == {0: 1, 1: 0, 2: 0, 3: 0}


def test_substring_spans_match_bruteforce(spark):
    """Repeated-window aggregation equals a direct Counter over the same
    per-doc rolling hashes (whole corpus — the query is corpus-wide)."""
    from collections import Counter

    from mysteryann_spark.functions.text import rolling_hashes
    from mysteryann_spark.queries.pipeline import doc_substring_spans
    from mysteryann_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    per_doc = (
        load_table(spark, "documents", SF_DIR)
        .select("doc_id", rolling_hashes("text", 3).alias("rh"))
        .collect()
    )
    occ = Counter()
    dspread = {}
    for r in per_doc:
        for h in r["rh"]:
            occ[h] += 1
            dspread.setdefault(h, set()).add(r["doc_id"])
    want = {
        h: (len(dspread[h]), c) for h, c in occ.items() if c >= 2
    }
    got = {
        r["rhash"]: (r["n_docs"], r["n_occ"])
        for r in doc_substring_spans(spark, SF_DIR).collect()
    }
    assert got == want


def test_mix_sample_deterministic_and_stratified(spark):
    from mysteryann_spark.queries.pipeline import pipeline_mix_sample
    from tests.conftest import SF_DIR

    a = {r["doc_id"]: r["source"] for r in pipeline_mix_sample(spark, SF_DIR).collect()}
    b = {r["doc_id"]: r["source"] for r in pipeline_mix_sample(spark, SF_DIR).collect()}
    assert a == b  # hash-derived, not rand(): identical under re-run
    from mysteryann_spark.sources.tables import load_table

    totals = {}
    for r in load_table(spark, "documents", SF_DIR).select("doc_id", "source").collect():
        totals.setdefault(r["source"], [0, 0])[0] += 1
        if r["doc_id"] in a:
            totals[r["source"]][1] += 1
    hi = [totals[s][1] / totals[s][0] for s in totals if s in {"src0", "src1", "src2", "src3", "src4"}]
    lo = [totals[s][1] / totals[s][0] for s in totals if int(s[3:]) >= 10]
    # loose statistical bounds: 0.9-rate strata must out-sample 0.2-rate
    assert min(hi) > max(lo)


def test_pack_sequences_contiguous(spark):
    """Concat-then-chunk invariants: starts are the running sum of token
    counts in doc_id order; sequence ids are consistent with offsets."""
    from mysteryann_spark.queries.pipeline import pipeline_pack_sequences
    from tests.conftest import SF_DIR

    rows = sorted(
        pipeline_pack_sequences(spark, SF_DIR).collect(), key=lambda r: r["doc_id"]
    )
    run = 0
    for r in rows:
        assert r["start_tok"] == run
        assert r["start_seq"] == r["start_tok"] // 2048
        assert r["seq_offset"] == r["start_tok"] % 2048
        assert r["end_seq"] == (r["start_tok"] + r["n_tokens"] - 1) // 2048
        run += r["n_tokens"]


def test_frame_sample_is_stride_subset_of_decode(spark):
    from mysteryann_spark.operators.multimodal import (
        decode_frames,
        sample_frames,
        synth_media_from_documents,
    )
    from mysteryann_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    media = synth_media_from_documents(
        load_table(spark, "documents", SF_DIR).where(F.col("doc_id") < 50)
    ).cache()
    decoded = {(r["media_id"], r["frame_idx"]) for r in decode_frames(media).collect()}
    sampled = [(r["media_id"], r["frame_idx"]) for r in sample_frames(media, 2).collect()]
    assert sampled and len(set(sampled)) == len(sampled)
    for mid, fi in sampled:
        assert fi % 2 == 0
        assert (mid, fi) in decoded
    # every even frame of every media row is present
    evens = {(m, f) for m, f in decoded if f % 2 == 0}
    assert set(sampled) == evens


def test_image_codecs_exact_roundtrip():
    """Pure-numpy PPM/BMP codecs: encode->decode recovers the source
    array EXACTLY (both formats are lossless), including comment-bearing
    PPM headers and BMP row padding (odd widths)."""
    import numpy as np

    from mysteryann_spark.operators.multimodal import (
        _parse_ppm,
        decode_image,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (5, 7), (16, 33), (11, 8)]:  # odd widths stress padding
        src = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_image(encode_ppm(src)) == src).all(), (h, w, "ppm")
        assert (decode_image(encode_bmp(src)) == src).all(), (h, w, "bmp")
    # PPM header with comments and multi-whitespace still parses
    src = rng.integers(0, 256, size=(2, 3, 3), dtype=np.uint8)
    hdr = b"P6\n# a comment\n 3   # trailing\n2\n# more\n255\n" + src.tobytes()
    assert (_parse_ppm(hdr) == src).all()


def test_real_decode_spark_path(spark, docs):
    """decode_frames(real_decode=True) decodes real PPM/BMP payloads
    distributed: one frame per image, fingerprint over DECODED pixels
    (identical for a PPM and BMP encoding of the same array), n_bytes =
    raster size = w*h*3."""
    import hashlib

    import numpy as np

    from mysteryann_spark.operators.multimodal import (
        decode_frames,
        synth_real_media_from_documents,
    )

    media = synth_real_media_from_documents(docs)
    meta = {r["media_id"]: (r["width"], r["height"]) for r in media.collect()}
    rows = decode_frames(media, real_decode=True).collect()
    assert len(rows) == len(meta)
    for r in rows:
        w, h = meta[r["media_id"]]
        assert r["n_bytes"] == w * h * 3
        assert r["frame_idx"] == 0
        # recompute the expected raster from the generator's formula
        did = r["media_id"]
        pix = (
            (np.arange(h * w * 3, dtype=np.int64) * 31 + did * 131 + 7) % 256
        ).astype(np.uint8)
        assert r["frame_md5"] == hashlib.md5(pix.tobytes()).hexdigest()


def test_mean_pool_matches_numpy_clip4clip(spark, emb):
    """mean_pool_embeddings must implement the clip4clip protocol the
    reference uses (prepare_for_clip_webvid.py:93-98): L2-normalize each
    row (zero norms clamped to 1), mean the normalized rows, renormalize.
    Pinned against a direct numpy transliteration of the reference loop;
    the testdata rows are NOT unit-norm, so raw-pooling would diverge."""
    import numpy as np

    from mysteryann_spark.operators.multimodal import mean_pool_embeddings

    got = {
        r["label"]: (r["n"], np.asarray(r["pooled"]))
        for r in mean_pool_embeddings(emb, "label").collect()
    }
    pdf = emb.select("label", "embedding").toPandas()
    for label, grp in pdf.groupby("label"):
        matrix = np.stack([np.asarray(v, dtype=np.float64) for v in grp["embedding"]])
        matrix_norm = np.linalg.norm(matrix, axis=1, keepdims=True)
        matrix_norm[matrix_norm == 0] = 1
        vector = np.mean(matrix / matrix_norm, axis=0)
        expected = vector / np.linalg.norm(vector)
        n, pooled = got[label]
        assert n == len(grp)
        np.testing.assert_allclose(pooled, expected, rtol=1e-9, atol=1e-12)
    # raw variant still available, and on rows with very different norms
    # the two protocols genuinely diverge (here: raw pooling is dominated
    # by the big vector, clip4clip weights both rows equally); a zero
    # vector exercises the clamped-norm guard
    tiny = spark.createDataFrame(
        [(0, [100.0, 0.0]), (0, [0.0, 1.0]), (1, [0.0, 0.0]), (1, [3.0, 4.0])],
        "label int, embedding array<double>",
    )
    clip = {r["label"]: np.asarray(r["pooled"]) for r in
            mean_pool_embeddings(tiny, "label").collect()}
    raw = {r["label"]: np.asarray(r["pooled"]) for r in
           mean_pool_embeddings(tiny, "label", normalize_rows=False).collect()}
    np.testing.assert_allclose(clip[0], [1 / np.sqrt(2), 1 / np.sqrt(2)], rtol=1e-12)
    np.testing.assert_allclose(raw[0], [100 / np.sqrt(100**2 + 1), 1 / np.sqrt(100**2 + 1)], rtol=1e-12)
    np.testing.assert_allclose(clip[1], [0.6, 0.8], rtol=1e-12)  # zero row clamps, not NaN


def test_quota_sample_exact_counts(spark):
    """pipeline_quota_sample returns exactly min(quota, |stratum|) rows per
    language: small strata must skip the hash prefilter (the count-aware
    threshold), big strata prefilter and still fill the quota."""
    from mysteryann_spark.queries.pipeline import _QUOTA, pipeline_quota_sample

    got = (
        pipeline_quota_sample(spark, SF_DIR)
        .groupBy("lang")
        .count()
        .collect()
    )
    truth = {
        r["lang"]: r["count"]
        for r in load_table(spark, "documents", SF_DIR).groupBy("lang").count().collect()
    }
    assert len(got) == len(truth)  # no stratum dropped entirely
    for r in got:
        assert r["count"] == min(_QUOTA, truth[r["lang"]]), r["lang"]
