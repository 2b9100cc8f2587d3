"""IVF-PQ index persistence gates: layout, model round-trip, and
bit-parity between the in-memory and the save/load search paths."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mysteryann_spark.operators.similarity import (
    build_ivfpq_index,
    search_ivfpq_index,
)
from mysteryann_spark.sources.ann_index_io import load_ivfpq, save_ivfpq

SF_TINY = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from mysteryann_spark.sources.tables import load_table

    base = load_table(spark, "embeddings", SF_TINY)
    index = build_ivfpq_index(base, n_centroids=8, m=8, n_codes=32)
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    save_ivfpq(index, path)
    return base, index, path


def test_layout_is_cid_partitioned(built):
    import os

    _, index, path = built
    parts = [d for d in os.listdir(f"{path}/lists") if d.startswith("cid=")]
    assert len(parts) >= 2, f"expected cid=* partition dirs, got {parts}"
    for sub in ("centroids", "books", "meta"):
        assert os.path.isdir(f"{path}/{sub}")


def test_model_roundtrip_exact(spark, built):
    _, index, path = built
    loaded = load_ivfpq(spark, path)
    np.testing.assert_array_equal(loaded["centroids"], index["centroids"])
    np.testing.assert_array_equal(loaded["books"], index["books"])
    assert loaded["meta"] == index["meta"]
    assert loaded["lists"].count() == index["lists"].count()


def test_search_parity_memory_vs_loaded(spark, built):
    """Same queries, same k/probes: searching through the persisted index
    must return exactly the rows the in-memory index returns."""
    base, index, path = built
    loaded = load_ivfpq(spark, path)
    q = base.where(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    def run(idx):
        return sorted(
            (r["qid"], r["nn_id"], round(r["dist"], 9), r["rank"])
            for r in search_ivfpq_index(q, idx, 5, n_probe=4, refine=10, base_df=base).collect()
        )

    assert run(index) == run(loaded)


def test_adc_only_search_when_base_absent(spark, built):
    """base_df=None returns pure-ADC distances — the serving regime where
    only the persisted index exists."""
    base, _, path = built
    loaded = load_ivfpq(spark, path)
    q = base.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    rows = search_ivfpq_index(q, loaded, 3, n_probe=4, base_df=None).collect()
    assert {r["qid"] for r in rows} == set(range(5))
    assert all(r["rank"] <= 3 for r in rows)


def test_load_rejects_corrupt_centroids(spark, built, tmp_path):
    """A centroid file with a gap in cid must be refused, not silently
    mis-ordered."""
    _, index, path = built
    bad = str(tmp_path / "bad")
    save_ivfpq(index, bad)
    spark.createDataFrame(
        [(0, [0.0] * index["meta"]["dim"]), (2, [0.0] * index["meta"]["dim"])],
        "cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{bad}/centroids")
    with pytest.raises(ValueError, match="not contiguous"):
        load_ivfpq(spark, bad)


@pytest.fixture(scope="module")
def built_with_vectors(spark, tmp_path_factory):
    from mysteryann_spark.sources.tables import load_table

    base = load_table(spark, "embeddings", SF_TINY)
    index = build_ivfpq_index(base, n_centroids=8, m=8, n_codes=32)
    path = str(tmp_path_factory.mktemp("ivfpq_vec") / "idx")
    save_ivfpq(index, path, base_df=base)
    return base, path


def test_vectors_layout_is_cid_partitioned(built_with_vectors):
    import os

    _, path = built_with_vectors
    parts = [d for d in os.listdir(f"{path}/vectors") if d.startswith("cid=")]
    assert len(parts) >= 2, f"expected cid=* partition dirs, got {parts}"


def test_persisted_vectors_refine_matches_base_df(spark, built_with_vectors):
    """A search against the index's own persisted full-precision vectors
    (base_df=None) must return exactly what the explicit base_df rerank
    returns: same survivors (the vectors' cid agrees with the lists'
    assignment row-for-row) scored by the same float64 kernel."""
    base, path = built_with_vectors
    loaded = load_ivfpq(spark, path)
    assert "vectors" in loaded
    q = base.where(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    def run(base_df):
        return sorted(
            (r["qid"], r["nn_id"], round(r["dist"], 9), r["rank"])
            for r in search_ivfpq_index(
                q, loaded, 5, n_probe=4, refine=10, base_df=base_df
            ).collect()
        )

    got = run(None)
    assert len(got) > 0
    assert got == run(base)


def _ivfpq_reference(index, lists, base, queries, k, n_probe, refine=None):
    """numpy reference search: unit queries probe their n_probe nearest
    centroids, candidates are scored -q.r against their codes'
    reconstructions from ``books`` (self excluded), ordered by
    (dist, nn_id); with ``refine`` the top k*refine are re-scored by
    exact cosine distance -cos against ``base``. Returns {qid: [(nn_id, dist)]}."""
    cents, books = index["centroids"], index["books"]
    out = {}
    for qid, qv in queries.items():
        qu = qv / np.linalg.norm(qv)
        probes = np.argsort(((cents - qu) ** 2).sum(axis=1))[:n_probe]
        cand = [(nid, code) for cid, nid, code in lists if cid in probes and nid != qid]
        ids = np.array([nid for nid, _ in cand])
        recon = np.stack(
            [np.concatenate([books[j][c] for j, c in enumerate(code)]) for _, code in cand]
        )
        dist = -(recon @ qu)
        order = np.lexsort((ids, dist))
        if refine is not None:
            ids = ids[order[: k * refine]]
            vecs = np.stack([base[i] for i in ids])
            dist = -(vecs @ qv / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(qv)))
            order = np.lexsort((ids, dist))
        out[qid] = [(int(ids[i]), float(dist[i])) for i in order[:k]]
    return out


def check_search_against_reference(spark, base_df, path, n_probe, refine=None):
    """Search the index saved at ``path`` through ``load_ivfpq`` for the
    first 8 base vectors and compare with ``_ivfpq_reference``: same
    neighbors, same ranks, same distances to 1e-9 (the kernel sums
    per-subspace LUT partials). ``refine`` is None exactly when the
    index was saved without vectors (pure ADC)."""
    loaded = load_ivfpq(spark, path)
    assert ("vectors" in loaded) == (refine is not None)
    base = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in base_df.collect()
    }
    lists = [
        (r["cid"], r["nn_id"], np.asarray(r["code"]))
        for r in loaded["lists"].collect()
    ]
    qids = sorted(base)[:8]
    q = base_df.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    want = _ivfpq_reference(
        loaded, lists, base, {i: base[i] for i in qids}, 3, n_probe, refine
    )
    got = {}
    for r in sorted(
        search_ivfpq_index(
            q, loaded, 3, n_probe=n_probe, refine=refine or 20, base_df=None
        ).collect(),
        key=lambda r: (r["qid"], r["rank"]),
    ):
        got.setdefault(r["qid"], []).append((r["nn_id"], r["dist"]))
    assert set(got) == set(qids)
    for qid in qids:
        assert [n for n, _ in got[qid]] == [n for n, _ in want[qid]], qid
        np.testing.assert_allclose(
            [d for _, d in got[qid]], [d for _, d in want[qid]], atol=1e-9
        )


def test_persisted_vectors_refine_join_path_parity(spark, built_with_vectors):
    """The persisted-vectors rerank (survivors joined to the index's own
    cid-partitioned vectors on (cid, nn_id), base_df=None) against the
    numpy reference: ADC top k*refine, then exact cosine rerank."""
    base_df, path = built_with_vectors
    check_search_against_reference(spark, base_df, path, n_probe=4, refine=10)


def test_persisted_vectors_float_dtype(spark, tmp_path):
    """vec_dtype='float' persists array<float> vectors (half the bytes —
    the 10^8-rehearsal footprint knob); the search still returns full
    top-k per query through the same rerank plumbing."""
    from mysteryann_spark.sources.tables import load_table

    base = load_table(spark, "embeddings", SF_TINY)
    index = build_ivfpq_index(base, n_centroids=8, m=8, n_codes=32)
    path = str(tmp_path / "idx32")
    save_ivfpq(index, path, base_df=base, vec_dtype="float")
    loaded = load_ivfpq(spark, path)
    assert dict(loaded["vectors"].dtypes)["vec"] == "array<float>"
    q = base.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    rows = search_ivfpq_index(q, loaded, 3, n_probe=4, base_df=None).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(r["rank"])
    assert set(per_q) == set(range(5))
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())


def test_rebuild_over_existing_path_swaps_atomically(spark, tmp_path):
    """Rebuilding onto an EXISTING index path must never leave mixed
    parts: pre-fix, models-first in-place writes opened a window where
    the new meta/centroids coexisted with the old lists — a reader got
    a consistent-LOOKING but mismatched index with no error. The rebuild
    now stages to a sibling dir and rename-swaps, so the landed index is
    entirely the new build and no staging siblings remain."""
    import os

    from mysteryann_spark.sources.tables import load_table

    base = load_table(spark, "embeddings", SF_TINY)
    path = str(tmp_path / "idx")
    save_ivfpq(build_ivfpq_index(base, n_centroids=4, m=8, n_codes=16), path)
    rebuilt = build_ivfpq_index(base, n_centroids=8, m=8, n_codes=32)
    save_ivfpq(rebuilt, path)

    loaded = load_ivfpq(spark, path)
    assert loaded["meta"] == rebuilt["meta"]
    np.testing.assert_array_equal(loaded["centroids"], rebuilt["centroids"])
    assert loaded["lists"].count() == rebuilt["lists"].count()
    siblings = [d for d in os.listdir(tmp_path) if d != "idx"]
    assert siblings == [], f"staging residue left behind: {siblings}"


def test_load_mid_write_window_fails_clean_then_backfills(spark, tmp_path):
    """The models-first fresh-path write order has a visibility window:
    models (+ route) landed, ``lists`` not yet. A reader in that window
    must fail on the missing dataset — NOT load a partial index — and
    once the lists land, the vectors must backfill through the persisted
    models without retraining (the ENOSPC-survivability contract)."""
    import shutil

    from mysteryann_spark.sources.ann_index_io import save_ivfpq_vectors
    from mysteryann_spark.sources.tables import load_table

    base = load_table(spark, "embeddings", SF_TINY)
    index = build_ivfpq_index(base, n_centroids=8, m=8, n_codes=32)
    path = str(tmp_path / "idx")
    save_ivfpq(index, path)
    # reconstruct the mid-write shape: everything but lists
    lists_dir = f"{path}/lists"
    saved = f"{tmp_path}/lists_aside"
    shutil.move(lists_dir, saved)
    with pytest.raises(Exception, match="(?i)path does not exist|lists"):
        load_ivfpq(spark, path)
    # lists land -> the index loads, and vectors backfill through the
    # persisted models/route, agreeing with the lists' assignment
    shutil.move(saved, lists_dir)
    loaded = load_ivfpq(spark, path)
    save_ivfpq_vectors(loaded, path, base)
    reloaded = load_ivfpq(spark, path)
    assert "vectors" in reloaded
    joined = (
        reloaded["vectors"]
        .select("nn_id", F.col("cid").alias("vcid"))
        .join(reloaded["lists"].select("nn_id", "cid"), "nn_id")
    )
    assert joined.where(F.col("vcid") != F.col("cid")).count() == 0


def test_load_mid_write_window_with_route_fails_clean_then_backfills(
    spark, tmp_path
):
    """The ROUTED variant of the mid-write window (r12 verdict #7): a
    hierarchical index's mid-write shape is models + ROUTE present,
    ``lists`` absent. The reader must still fail cleanly on the missing
    dataset, and the later vectors backfill must derive cids through the
    PERSISTED route (routed and flat assignment disagree at cell
    boundaries, so agreement with the lists' cids proves the route was
    threaded, not just the flat centroids)."""
    import os
    import shutil

    from mysteryann_spark.sources.ann_index_io import save_ivfpq_vectors
    from mysteryann_spark.sources.tables import load_table

    base = load_table(spark, "embeddings", SF_TINY)
    index = build_ivfpq_index(
        base, n_centroids=8, m=8, n_codes=32, hierarchical=True, branch=4
    )
    assert "route" in index
    path = str(tmp_path / "idx")
    save_ivfpq(index, path)
    lists_dir = f"{path}/lists"
    saved = f"{tmp_path}/lists_aside"
    shutil.move(lists_dir, saved)
    # the mid-write shape this test locks: models AND route on disk
    assert os.path.isdir(f"{path}/route")
    assert os.path.isdir(f"{path}/centroids")
    with pytest.raises(Exception, match="(?i)path does not exist|lists"):
        load_ivfpq(spark, path)
    shutil.move(saved, lists_dir)
    loaded = load_ivfpq(spark, path)
    assert "route" in loaded
    save_ivfpq_vectors(loaded, path, base)
    reloaded = load_ivfpq(spark, path)
    assert "vectors" in reloaded
    joined = (
        reloaded["vectors"]
        .select("nn_id", F.col("cid").alias("vcid"))
        .join(reloaded["lists"].select("nn_id", "cid"), "nn_id")
    )
    assert joined.where(F.col("vcid") != F.col("cid")).count() == 0
