"""Spherical k-means trainer tests: inertia decreases, IVF recall improves."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.operators.kmeans import fit
from etl_sentinel_imagery_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_inertia_monotone_decreasing(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    centroids, inertias = fit(emb, k=8, n_iter=4)
    assert centroids.shape == (8, 64)
    assert np.allclose(np.linalg.norm(centroids, axis=1), 1.0)
    assert len(inertias) == 4
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a + 1e-9, f"inertia increased: {inertias}"
    assert inertias[-1] < inertias[0]


def test_trained_centroids_beat_naive_for_recall(spark):
    """IVF with trained centroids should match or beat the naive
    first-k-vectors seed on exact-top-5 recall."""
    from etl_sentinel_imagery_spark.operators.similarity import ivf_topk
    from etl_sentinel_imagery_spark.queries.vectors_q import (
        _centroids,
        _cosine_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r["query_id"], r["cand_id"]) for r in _cosine_topk(spark, SF_DIR).collect()
    }
    naive = _centroids(spark, SF_DIR)
    trained, _ = fit(emb, k=8, n_iter=4)

    def recall(cents: np.ndarray) -> float:
        approx = {
            (r["query_id"], r["cand_id"])
            for r in ivf_topk(emb, F.col("vec_id") < 20, cents, k=5).collect()
        }
        return len(exact & approx) / len(exact)

    r_naive, r_trained = recall(naive), recall(trained)
    assert r_trained >= r_naive - 0.05, (r_naive, r_trained)


def test_scalable_init_deterministic_and_competitive(spark):
    """k-means|| init: reproducible (hash-keyed draws, no RNG), right
    shape, unit-norm, and at least as good a starting point as first-k
    on final inertia after the same number of Lloyd passes."""
    from etl_sentinel_imagery_spark.operators.kmeans import (
        init_centroids_scalable,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    c1 = init_centroids_scalable(emb, k=8)
    c2 = init_centroids_scalable(emb, k=8)
    np.testing.assert_array_equal(c1, c2)
    assert c1.shape == (8, 64)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)

    _, inert_first = fit(emb, k=8, n_iter=3, init="first_k")
    _, inert_scal = fit(emb, k=8, n_iter=3, init="scalable")
    assert inert_scal[-1] <= inert_first[-1] + 0.02, (inert_first, inert_scal)


def test_ivf_persisted_index_partition_pruned(spark, tmp_path):
    """The persisted IVF layout: probes must show up as PartitionFilters
    on the parquet scan (planner-enforced bucket pruning), and recall
    must match the in-memory IVF path exactly."""
    import io
    from contextlib import redirect_stdout

    from etl_sentinel_imagery_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        write_ivf_index,
    )
    from etl_sentinel_imagery_spark.queries.vectors_q import _centroids

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _centroids(spark, SF_DIR)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, cents, path)

    queries = emb.filter(F.col("vec_id") < 20)
    indexed = ivf_topk_indexed(spark, path, queries, cents, k=5)

    buf = io.StringIO()
    with redirect_stdout(buf):
        indexed.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan

    got = {(r["query_id"], r["cand_id"]) for r in indexed.collect()}
    want = {
        (r["query_id"], r["cand_id"])
        for r in ivf_topk(emb, F.col("vec_id") < 20, cents, k=5).collect()
    }
    assert got == want


def test_ivf_adaptive_multiprobe_certificate(spark, tmp_path):
    """Bound-ordered multi-probe: (a) the _bucket_stats sidecar holds a
    radius row per bucket and stays invisible to the data scan, (b) every
    query flagged `exact` matches brute force EXACTLY (certificate
    soundness — the triangle-inequality bound did its job), (c) at full
    probing every query certifies and the whole result equals brute
    force, (d) same probe order as the plain path → identical recall,
    and (e) threshold pruning never loses a result above the floor."""
    from etl_sentinel_imagery_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_indexed,
        ivf_topk_indexed_adaptive,
        write_ivf_index,
    )
    from etl_sentinel_imagery_spark.queries.vectors_q import _centroids

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _centroids(spark, SF_DIR)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, cents, path)

    # (a) sidecar shape + hidden-from-scan
    from etl_sentinel_imagery_spark.operators.similarity import (
        _read_bucket_stats,
    )

    stats = _read_bucket_stats(spark, path)
    srows = stats.collect()
    assert sum(r["n_members"] for r in srows) == emb.count()
    assert all(-1.0 <= r["min_cos"] <= 1.0 for r in srows)
    assert spark.read.parquet(path).count() == emb.count()

    queries = emb.filter(F.col("vec_id") < 20)
    exact_rows = brute_force_topk(emb, F.col("vec_id") < 20, k=5).collect()
    exact_by_q: dict = {}
    for r in exact_rows:
        exact_by_q.setdefault(r["query_id"], set()).add(r["cand_id"])

    # (b) certificate soundness at a tight probe budget
    adaptive = ivf_topk_indexed_adaptive(
        spark, path, queries, cents, k=5, n_probe=2
    ).collect()
    got_by_q: dict = {}
    certified = set()
    for r in adaptive:
        got_by_q.setdefault(r["query_id"], set()).add(r["cand_id"])
        if r["exact"]:
            certified.add(r["query_id"])
    for qid in certified:
        assert got_by_q[qid] == exact_by_q[qid], f"certificate lied for {qid}"

    # (c) full probing: everything certifies, result == brute force
    full = ivf_topk_indexed_adaptive(
        spark, path, queries, cents, k=5, n_probe=len(cents)
    ).collect()
    assert all(r["exact"] for r in full)
    full_by_q: dict = {}
    for r in full:
        full_by_q.setdefault(r["query_id"], set()).add(r["cand_id"])
    assert full_by_q == exact_by_q

    # (d) same probe order as the plain path → identical result set
    plain = ivf_topk_indexed(spark, path, queries, cents, k=5, n_probe=2).collect()
    assert {(r["query_id"], r["cand_id"]) for r in adaptive} == {
        (r["query_id"], r["cand_id"]) for r in plain
    }

    # (e) threshold pruning: results >= floor are preserved exactly
    floor = 0.2
    pruned = ivf_topk_indexed_adaptive(
        spark, path, queries, cents, k=5, n_probe=2, min_sim=floor
    ).collect()
    kept = {
        (r["query_id"], r["cand_id"])
        for r in adaptive
        if r["cos_sim"] >= floor
    }
    got_pruned = {
        (r["query_id"], r["cand_id"]) for r in pruned if r["cos_sim"] >= floor
    }
    assert kept == got_pruned, "threshold pruning changed above-floor results"


def test_ivf_incremental_append_equals_full_build(spark, tmp_path):
    """append_to_ivf_index: (half build + half append) must equal the
    from-scratch index — same row count per bucket, identical sidecar
    stats (the merges are exact), and identical adaptive search output
    including the certificate column."""
    from etl_sentinel_imagery_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_topk_indexed_adaptive,
        write_ivf_index,
    )
    from etl_sentinel_imagery_spark.queries.vectors_q import _centroids

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _centroids(spark, SF_DIR)
    mid = 250

    full_path = str(tmp_path / "ivf_full")
    write_ivf_index(emb, cents, full_path)

    inc_path = str(tmp_path / "ivf_inc")
    write_ivf_index(emb.filter(F.col("vec_id") < mid), cents, inc_path)
    append_to_ivf_index(emb.filter(F.col("vec_id") >= mid), cents, inc_path)

    from etl_sentinel_imagery_spark.operators.similarity import (
        _read_bucket_stats,
    )

    stats = lambda p: {
        r["bucket"]: (r["n_members"], r["min_cos"])
        for r in _read_bucket_stats(spark, p).collect()
    }
    assert stats(inc_path) == stats(full_path)
    assert (
        spark.read.parquet(inc_path).count()
        == spark.read.parquet(full_path).count()
    )

    queries = emb.filter(F.col("vec_id") < 20)
    rows = lambda p: sorted(
        (r["query_id"], r["cand_id"], r["rnk"], r["exact"])
        for r in ivf_topk_indexed_adaptive(
            spark, p, queries, cents, k=5, n_probe=2
        ).collect()
    )
    assert rows(inc_path) == rows(full_path)


def test_bucket_stats_rows_resolve_the_pointer_for_uri_paths(spark, tmp_path):
    """A ``file:`` URI index reads the same stats rows as its posix
    path: the ``_CURRENT`` pointer is resolved, so a stale version left
    by a crash between the pointer flip and the cleanup never leaks in
    (a directory-root read would union both versions)."""
    import os
    import shutil

    from etl_sentinel_imagery_spark.operators.similarity import (
        _commit_bucket_stats,
        _read_bucket_stats_rows,
        _stats_dir,
    )

    path = str(tmp_path / "ivf_index")
    sdir = _stats_dir(path)
    _commit_bucket_stats(
        [
            {"bucket": 0, "n_members": 3, "min_cos": 0.5},
            {"bucket": 1, "n_members": 2, "min_cos": 0.75},
        ],
        path,
    )
    (old,) = [e for e in os.listdir(sdir) if e.startswith("v_")]
    shutil.copytree(os.path.join(sdir, old), str(tmp_path / "stale"))
    newest = [{"bucket": 0, "n_members": 4, "min_cos": 0.25}]
    _commit_bucket_stats(newest, path)
    shutil.copytree(str(tmp_path / "stale"), os.path.join(sdir, old))

    posix = _read_bucket_stats_rows(spark, path)
    assert posix == newest
    assert _read_bucket_stats_rows(spark, "file:" + path) == posix
