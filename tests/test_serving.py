"""ANN serving facade e2e: build_serving_index + topk over both recall
tiers, checked against a numpy brute-force oracle, with external
queries and the propagated exactness certificate."""

from __future__ import annotations

import numpy as np
import pytest

from etl_sentinel_imagery_spark.plans.serving import (
    build_serving_index,
    load_centroids,
    topk,
)

DIM = 8
N = 160


def _corpus() -> np.ndarray:
    rng = np.random.default_rng(41)
    centers = rng.normal(size=(4, DIM))
    vecs = np.stack(
        [centers[i % 4] + 0.15 * rng.normal(size=DIM) for i in range(N)]
    )
    return vecs


def _brute_topk(vecs: np.ndarray, ids, qvec: np.ndarray, k: int, self_id=None):
    normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    qn = qvec / np.linalg.norm(qvec)
    sims = normed @ qn
    order = sorted(
        range(len(ids)), key=lambda i: (-sims[i], ids[i])
    )
    out = [(ids[i], sims[i]) for i in order if ids[i] != self_id]
    return out[:k]


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("serve") / "idx")
    vecs = _corpus()
    emb = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(N)],
        "vec_id bigint, embedding array<double>",
    )
    cents = build_serving_index(
        emb,
        d,
        n_centroids=4,
        kmeans_iters=3,
        kmeans_init="first_k",
        hnsw=True,
        hnsw_shards=2,
    )
    assert cents.shape == (4, DIM)
    assert np.allclose(load_centroids(d), cents)
    return d, vecs


def test_ivf_full_probe_is_exact_and_certified(spark, index):
    d, vecs = index
    rng = np.random.default_rng(7)
    ext_vec = vecs[30] + 0.05 * rng.normal(size=DIM)  # external query
    queries = spark.createDataFrame(
        [(3, vecs[3].tolist()), (57, vecs[57].tolist()), (10_001, ext_vec.tolist())],
        "vec_id bigint, embedding array<double>",
    )
    out = topk(spark, queries, d, k=5, tier="ivf", n_probe=4).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    ids = list(range(N))
    for qid, qvec in ((3, vecs[3]), (57, vecs[57]), (10_001, ext_vec)):
        got = sorted(by_q[qid], key=lambda r: r["rnk"])
        want = _brute_topk(vecs, ids, qvec, 5, self_id=qid)
        assert [r["cand_id"] for r in got] == [w[0] for w in want]
        for r, w in zip(got, want):
            assert r["cos_sim"] == pytest.approx(w[1], abs=1e-9)
        # full probing -> the certificate must hold for every row
        assert all(r["exact"] for r in got)


def test_hnsw_tier_recall_and_rerank(spark, index):
    d, vecs = index
    queries = spark.createDataFrame(
        [(3, vecs[3].tolist()), (98, vecs[98].tolist())],
        "vec_id bigint, embedding array<double>",
    )
    out = topk(spark, queries, d, k=5, tier="hnsw", ef_search=64).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    ids = list(range(N))
    hits = total = 0
    for qid, qvec in ((3, vecs[3]), (98, vecs[98])):
        got = {r["cand_id"] for r in by_q[qid]}
        want = {w[0] for w in _brute_topk(vecs, ids, qvec, 5, self_id=qid)}
        hits += len(got & want)
        total += len(want)
        # rerank scores are exact cosine regardless of recall path
        normed = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        qn = qvec / np.linalg.norm(qvec)
        for r in by_q[qid]:
            assert r["cos_sim"] == pytest.approx(
                float(normed[r["cand_id"]] @ qn), abs=1e-9
            )
    assert hits / total >= 0.8, f"hnsw recall {hits}/{total}"


def test_unknown_tier_rejected(spark, index):
    d, _ = index
    q = spark.createDataFrame([(1, [0.0] * DIM)], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="tier"):
        topk(spark, q, d, tier="flat")


def test_ivfpq_tier(spark, tmp_path):
    """The compressed tier through the facade: build with pq=True,
    serve tier='ivfpq', recall vs brute force stays high after the
    internal rerank."""
    from etl_sentinel_imagery_spark.plans.serving import (
        build_serving_index,
        topk,
    )

    d = str(tmp_path / "pqidx")
    vecs = _corpus()
    emb = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(N)],
        "vec_id bigint, embedding array<double>",
    )
    build_serving_index(
        emb, d, n_centroids=4, kmeans_iters=3, kmeans_init="first_k",
        hnsw=False, pq=True, pq_m=4, pq_k=16,
    )
    queries = spark.createDataFrame(
        [(3, vecs[3].tolist()), (57, vecs[57].tolist())],
        "vec_id bigint, embedding array<double>",
    )
    out = topk(spark, queries, d, k=5, tier="ivfpq", n_probe=4, shortlist=40)
    by_q: dict = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], set()).add(r["cand_id"])
    ids = list(range(N))
    hits = total = 0
    for qid, qvec in ((3, vecs[3]), (57, vecs[57])):
        want = {w[0] for w in _brute_topk(vecs, ids, qvec, 5, self_id=qid)}
        hits += len(by_q[qid] & want)
        total += 5
    assert hits / total >= 0.8, f"ivfpq tier recall {hits}/{total}"


def test_pca_reduced_index_recall(spark, tmp_path):
    """pca_dims builds every tier in the reduced space and topk
    transforms queries automatically: 64→16 dims keeps recall@10 high
    vs the full-space exact answer, and a corpus-member query still
    returns itself first."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_sentinel_imagery_spark.plans.serving import (
        build_serving_index,
        load_pca,
        topk,
    )
    from etl_sentinel_imagery_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "pca_idx")
    build_serving_index(
        emb, idx, n_centroids=8, hnsw=False, pca_dims=16
    )
    model = load_pca(idx)
    assert model is not None and model["components"].shape == (16, 64)

    qids = [3, 7, 11, 19]
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = topk(spark, queries, idx, k=10, tier="ivf", n_probe=8).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)

    # ground truth IN THE REDUCED SPACE — what the index machinery
    # must be faithful to (the data itself is near-isotropic, so the
    # 64->16 cut costs real full-space recall by construction; the
    # integration's job is to serve the reduced space exactly)
    import numpy as _np

    rows = emb.collect()
    ids = [r["vec_id"] for r in rows]
    mat = _np.stack(
        [_np.asarray(r["embedding"], dtype="float64") for r in rows]
    )
    red = (mat - model["mean"]) @ model["components"].T
    red = red / _np.linalg.norm(red, axis=1, keepdims=True)
    full = mat / _np.linalg.norm(mat, axis=1, keepdims=True)
    hits_red = hits_full = total = 0
    for qid in qids:
        qi = ids.index(qid)
        mine = [
            r["cand_id"]
            for r in sorted(by_q[qid], key=lambda r: r["rnk"])
        ]
        assert len(mine) == 10 and qid not in mine  # self filtered
        for space, acc in ((red, "r"), (full, "f")):
            sims = space @ space[qi]
            order = [
                int(ids[i]) for i in _np.argsort(-sims)
                if ids[i] != qid
            ][:10]
            inter = len(set(mine) & set(order))
            if acc == "r":
                hits_red += inter
            else:
                hits_full += inter
        total += 10
    assert hits_red / total >= 0.9   # faithful to the reduced space
    assert hits_full / total >= 0.2  # sanity vs full space


def test_legacy_hnsw_index_with_an_empty_shard(spark, tmp_path):
    """An index persisted before the HNSW meta existed recovers its
    shard modulus from the graph layout. With shard 0 of 3 hashed
    empty, a distinct-shard count would say 2 and the re-sharded
    search would miss vectors; the highest shard id + 1 says 3."""
    import os
    import zlib

    ids = [i for i in range(400) if zlib.crc32(str(i).encode()) % 3][:N]
    assert {zlib.crc32(str(i).encode()) % 3 for i in ids} == {1, 2}
    vecs = _corpus()
    emb = spark.createDataFrame(
        [(ids[j], vecs[j].tolist()) for j in range(N)],
        "vec_id bigint, embedding array<double>",
    )
    d = str(tmp_path / "legacy")
    build_serving_index(
        emb, d, n_centroids=4, kmeans_iters=3, kmeans_init="first_k",
        hnsw=True, hnsw_shards=3,
    )
    os.remove(os.path.join(d, "hnsw_meta.json"))

    q = ids[3]
    queries = spark.createDataFrame(
        [(q, vecs[3].tolist())], "vec_id bigint, embedding array<double>"
    )
    out = topk(spark, queries, d, k=5, tier="hnsw", ef_search=64).collect()
    got = {r["cand_id"] for r in out}
    want = {w[0] for w in _brute_topk(vecs, ids, vecs[3], 5, self_id=q)}
    assert len(got & want) >= 4, (got, want)
