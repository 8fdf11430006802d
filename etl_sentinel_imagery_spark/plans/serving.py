"""ANN serving facade — the documented front door over the engine's
similarity tiers.

The pieces have existed since rounds 4-7 (persisted partition-pruned
IVF with adaptive-probe exactness certificates, per-shard HNSW graphs,
exact-cosine rerank), but composing them required reading operator
docstrings. This plan wires them behind two calls:

- :func:`build_serving_index` — one-time (or periodic) index build:
  spherical k-means centroids (k-means|| init at scale), the
  bucket-partitioned IVF layout (probes become partition-PRUNED parquet
  scans), the centroid artifact (atomic JSON commit beside the index),
  and optionally the per-shard HNSW graph for the no-centroid recall
  path. Steady ingest appends via ``append_to_ivf_index`` /
  ``hnsw_append`` — rebuilding per batch is not a 100 TB plan.
- :func:`topk` — serve a query set: recall tier (``"ivf"`` adaptive
  multi-probe with threshold pruning, or ``"hnsw"`` beam search) emits
  a shortlist of ``shortlist`` candidates, then the standard two-stage
  rerank (exact cosine on full-precision vectors, shortlist-sized work)
  trims to the final k. Queries may be corpus members or external
  (id, vector) rows; results carry the IVF tier's per-query ``exact``
  certificate when available (true = provably the exact top-k).

Scale shape: queries are control-plane-sized by contract (they
broadcast into every tier); the corpus is only ever touched through
the partition-pruned IVF scan or the per-shard graphs. Storage tiers
(int8/PQ/OPQ) compose upstream of the same rerank — see
operators.similarity.

Reference parity note: the reference has no ANN tier (570 lines of
exact geo/metadata processing); this is part of the training-data
extension mandate (SURVEY.md §6).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.operators.hnsw import (
    DEFAULT_SHARDS,
    hnsw_build,
    hnsw_persist,
    hnsw_topk,
)
from etl_sentinel_imagery_spark.operators.ivfpq import (
    ivfpq_topk,
    write_ivfpq_index,
)
from etl_sentinel_imagery_spark.operators.kmeans import fit as kmeans_fit
from etl_sentinel_imagery_spark.operators.similarity import (
    ivf_topk_indexed_adaptive,
    list_layout_data_files,
    live_layout_files,
    publish_layout_manifest,
    read_indexed_layout,
    rerank_exact,
    write_ivf_index,
)


def _ivf_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "ivf")


def _hnsw_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "hnsw")


def _ivfpq_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "ivfpq")


def _centroids_path(index_dir: str) -> str:
    return os.path.join(index_dir, "centroids.json")


def _pca_path(index_dir: str) -> str:
    return os.path.join(index_dir, "pca.json")


def _save_pca(index_dir: str, model: dict, whiten: bool) -> None:
    tmp = _pca_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "mean": model["mean"].tolist(),
                "components": model["components"].tolist(),
                "explained_var": model["explained_var"].tolist(),
                "total_var": model["total_var"],
                "whiten": whiten,
            },
            f,
        )
    os.replace(tmp, _pca_path(index_dir))


def load_pca(index_dir: str) -> dict | None:
    """The index's PCA pre-rotation, or None for a full-dim index."""
    p = _pca_path(index_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        raw = json.load(f)
    return {
        "mean": np.asarray(raw["mean"]),
        "components": np.asarray(raw["components"]),
        "explained_var": np.asarray(raw["explained_var"]),
        "total_var": raw["total_var"],
        "whiten": bool(raw["whiten"]),
    }


def _apply_index_pca(df: DataFrame, model: dict, vec_col: str) -> DataFrame:
    from etl_sentinel_imagery_spark.operators.pca import transform_pca

    return transform_pca(
        df, model, vec_col=vec_col, out_col=vec_col,
        whiten=model["whiten"],
    )


def build_serving_index(
    embeddings: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    kmeans_iters: int = 5,
    kmeans_init: str = "scalable",
    hnsw: bool = True,
    hnsw_shards: int = 4,
    pq: bool = False,
    pq_m: int = 8,
    pq_k: int = 16,
    opq: bool = False,
    pca_dims: int | None = None,
    pca_whiten: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train + persist the serving index under ``index_dir``:
    ``ivf/`` (bucket-partitioned corpus + _bucket_stats sidecar),
    ``centroids.json`` (atomic tmp+rename — readers never see a
    partial artifact), and optionally ``hnsw/`` (per-shard graphs).
    Returns the trained centroid matrix.

    ``pca_dims`` trains a PCA pre-rotation (operators.pca — combinable
    Gram partials, driver eigh) and builds EVERY tier in the reduced
    space: a 256→64 cut shrinks the index, the probe shuffles, and the
    PQ/OPQ inputs 4× while typically costing a few recall points
    (measured in tests). The model persists as ``pca.json`` (atomic)
    and :func:`topk` transforms queries with it automatically — the
    caller's vectors stay full-dimensional at both ends."""
    if pca_dims is not None:
        from etl_sentinel_imagery_spark.operators.pca import (
            fit_pca,
        )

        os.makedirs(index_dir, exist_ok=True)
        pca_model = fit_pca(embeddings, pca_dims, vec_col=vec_col)
        _save_pca(index_dir, pca_model, pca_whiten)
        pca_model["whiten"] = pca_whiten
        embeddings = _apply_index_pca(embeddings, pca_model, vec_col)
    centroids, _inertia = kmeans_fit(
        embeddings,
        k=n_centroids,
        n_iter=kmeans_iters,
        id_col=id_col,
        vec_col=vec_col,
        init=kmeans_init,
    )
    os.makedirs(index_dir, exist_ok=True)
    write_ivf_index(
        embeddings, centroids, _ivf_dir(index_dir), id_col, vec_col
    )
    tmp = _centroids_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(centroids.tolist(), f)
    os.replace(tmp, _centroids_path(index_dir))
    if hnsw:
        hnsw_persist(
            hnsw_build(
                embeddings, n_shards=hnsw_shards, id_col=id_col, vec_col=vec_col
            ),
            _hnsw_dir(index_dir),
        )
        # record the build's shard count (round 13): the cogrouped
        # hnsw_topk re-shards the vector side with the same shard_of
        # hash, so searches must know the modulus; built_nodes seeds
        # the maintenance churn ratio without the legacy fallback
        # counts
        _write_hnsw_meta(
            index_dir,
            {
                "n_shards": int(hnsw_shards),
                "built_nodes": embeddings.count(),
                "churn": 0,
            },
        )
    if pq:
        # the compressed serving tier: same centroids, PQ/OPQ codes
        from etl_sentinel_imagery_spark.operators.similarity import (
            train_opq,
            train_pq_codebooks,
        )

        if opq:
            rotation, codebooks = train_opq(
                embeddings, m=pq_m, k=pq_k, vec_col=vec_col
            )
        else:
            rotation, codebooks = None, train_pq_codebooks(
                embeddings, m=pq_m, k=pq_k, vec_col=vec_col
            )
        write_ivfpq_index(
            embeddings,
            centroids,
            codebooks,
            _ivfpq_dir(index_dir),
            rotation=rotation,
            id_col=id_col,
            vec_col=vec_col,
        )
    return centroids


def load_centroids(index_dir: str) -> np.ndarray:
    with open(_centroids_path(index_dir)) as f:
        return np.array(json.load(f), dtype="float64")


def topk(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    k: int = 10,
    tier: str = "ivf",
    shortlist: int | None = None,
    n_probe: int = 2,
    ef_search: int = 48,
    min_sim: float = -1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve top-k neighbors for ``queries`` (id + vector rows; corpus
    membership not required) from a :func:`build_serving_index` layout.

    Output: (query_id, cand_id, cos_sim, rnk[, exact]) — ``exact``
    rides along from the IVF tier's certificate (per query: True means
    the result is PROVABLY the exact top-k, see
    ``ivf_topk_indexed_adaptive``). ``shortlist`` (default 4k) sizes the
    recall pass; the rerank stage re-scores only shortlist rows against
    the full-precision vectors stored in the IVF layout."""
    if tier not in ("ivf", "hnsw", "ivfpq"):
        raise ValueError(f"unknown serving tier {tier!r}")
    shortlist = shortlist or 4 * k
    corpus = read_indexed_layout(spark, _ivf_dir(index_dir)).select(
        id_col, vec_col
    )
    q = queries.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    )
    pca_model = load_pca(index_dir)
    if pca_model is not None:
        # the index lives in the reduced space — queries follow it
        q = _apply_index_pca(q, pca_model, vec_col)
    certificate = None
    if tier == "ivf":
        centroids = load_centroids(index_dir)
        raw = ivf_topk_indexed_adaptive(
            spark,
            _ivf_dir(index_dir),
            q,
            centroids,
            k=shortlist,
            n_probe=n_probe,
            min_sim=min_sim,
            id_col=id_col,
            vec_col=vec_col,
        )
        # per-query certificate for the SHORTLIST; after an exact rerank
        # that only narrows within the shortlist, a certified-exact
        # shortlist implies a certified-exact top-k (k <= shortlist)
        certificate = raw.groupBy("query_id").agg(
            F.min(F.col("exact").cast("int")).cast("boolean").alias("exact")
        )
        short = raw.select("query_id", "cand_id")
    elif tier == "ivfpq":
        # the compressed tier reranks internally against the full-
        # precision IVF layout (external queries resolve the same way)
        emb_all = corpus.unionByName(q).dropDuplicates([id_col])
        return ivfpq_topk(
            spark,
            _ivfpq_dir(index_dir),
            q,
            k=k,
            n_probe=n_probe,
            shortlist=shortlist,
            embeddings=emb_all,
            id_col=id_col,
            vec_col=vec_col,
        )
    else:
        graph = read_indexed_layout(spark, _hnsw_dir(index_dir))
        q_ids = [int(r[id_col]) for r in q.select(id_col).collect()]
        # hnsw_topk fetches query vectors by id from its embeddings
        # argument — union external queries in (dropDuplicates keeps the
        # corpus row when a query IS a member, vectors identical either
        # way); graph nodes are unaffected (the search joins on node_id)
        vecs = corpus.unionByName(q).dropDuplicates([id_col])
        hmeta = _read_hnsw_meta(index_dir)
        if hmeta is None:
            # legacy index built before the meta existed: recover the
            # modulus from the persisted layout, as the sync path does
            hmeta = {"n_shards": _legacy_shard_modulus(graph)}
        short = hnsw_topk(
            vecs,
            graph,
            q_ids,
            k=shortlist,
            ef_search=ef_search,
            id_col=id_col,
            vec_col=vec_col,
            # the cogrouped search re-shards vectors with the BUILD's
            # shard count (round 13)
            n_shards=int(hmeta["n_shards"]),
        ).select("query_id", "cand_id")
    # two-stage serving: exact cosine on full-precision vectors, but the
    # query side must resolve external query ids too
    emb_for_rerank = corpus.unionByName(q).dropDuplicates([id_col])
    out = rerank_exact(short, emb_for_rerank, k=k, id_col=id_col, vec_col=vec_col)
    if certificate is not None:
        out = out.join(F.broadcast(certificate), "query_id", "left")
    return out


# ---------------------------------------------------------------------------
# The index as a DERIVED TABLE of a txlog embeddings table: built from
# a snapshot, then maintained incrementally and EXACTLY-ONCE from the
# table's change feed — inserts append to their buckets, deletes and
# updates rewrite ONLY the buckets holding the affected ids, and a
# GDPR purge on the source table reaches the vector index through the
# same verb that mirrors every other derived table.
# ---------------------------------------------------------------------------


def _sync_cursor_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_table_sync.json")


def _schema_preserving_empty(layout_dir: str, bucket: int, df) -> str:
    """Write one schema-preserving empty parquet into ``bucket=<b>/``
    and return its relative path — the never-publish-an-empty-manifest
    guard shared by the IVF and PQ sync legs (a reader in the window
    must get zero candidates, not a schema-inference error).
    ``df`` supplies the row schema (minus the partition column)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    sch = to_arrow_schema(df.drop("bucket").schema)
    b0 = os.path.join(layout_dir, f"bucket={bucket}")
    os.makedirs(b0, exist_ok=True)
    pq.write_table(
        pa.table({f.name: pa.array([], type=f.type) for f in sch}),
        os.path.join(b0, "empty.parquet"),
    )
    return f"bucket={bucket}/empty.parquet"


def _hnsw_meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, "hnsw_meta.json")


def _pq_meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, "ivfpq_meta.json")


def _read_pq_meta(index_dir: str) -> dict | None:
    p = _pq_meta_path(index_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_pq_meta(index_dir: str, meta: dict) -> None:
    tmp = _pq_meta_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _pq_meta_path(index_dir))


def _read_hnsw_meta(index_dir: str) -> dict | None:
    p = _hnsw_meta_path(index_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_hnsw_meta(index_dir: str, meta: dict) -> None:
    tmp = _hnsw_meta_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _hnsw_meta_path(index_dir))


def _legacy_shard_modulus(graph: DataFrame) -> int:
    """The build's shard count for a graph persisted before the HNSW
    meta existed: the highest shard id + 1 (partition-column-only scan,
    metadata-cheap). A shard that hashed empty leaves no rows, so a
    distinct count would undercount; only an empty TOP shard still
    does."""
    top = graph.agg(F.max("shard")).first()[0]
    return DEFAULT_SHARDS if top is None else int(top) + 1


def _persist_graph_versioned(graph, path: str) -> None:
    """Write a graph generation as NEW files, then one atomic manifest
    flip (the txlog repoint discipline): a concurrent reader sees the
    previous complete graph or the new one, never a mix. Old
    generations stay on disk for in-flight readers until
    :func:`operators.similarity.vacuum_layout`."""
    before = set(list_layout_data_files(path))
    graph.write.mode("append").partitionBy("shard").parquet(path)
    new_files = [
        f for f in list_layout_data_files(path) if f not in before
    ]
    publish_layout_manifest(path, new_files)


def build_index_from_table(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **build_kwargs,
) -> np.ndarray:
    """Build the serving index from a txlog table's CURRENT snapshot
    and record the synced version, so :func:`sync_index_from_table`
    can take over incrementally. ALL THREE tiers are maintained by the
    sync verb: the IVF tier (bucket rewrites + appends), the graph
    tier when ``hnsw=True`` (deletes repair via
    :func:`operators.hnsw.hnsw_remove`, churn tracked against a
    rebuild-debt threshold), and the compressed tier when ``pq=True``
    (bucket rewrites under immutable codebooks, churn-gated codebook
    retrain — see :func:`_sync_ivfpq_tier`; the round-7 "PQ stays
    refused" closure is removed)."""
    from etl_sentinel_imagery_spark.operators.txlog import (
        current_version,
        snapshot,
    )

    v = current_version(table_dir)
    snap = snapshot(spark, table_dir, version=v).select(id_col, vec_col)
    cents = build_serving_index(
        snap,
        index_dir,
        id_col=id_col,
        vec_col=vec_col,
        **build_kwargs,
    )
    if build_kwargs.get("hnsw", True):
        # versioned repoint for the freshly-built graph too, so the
        # first sync's readers already resolve through the manifest
        # (build_serving_index already wrote the HNSW meta)
        publish_layout_manifest(
            _hnsw_dir(index_dir),
            list_layout_data_files(_hnsw_dir(index_dir)),
        )
    if build_kwargs.get("pq", False):
        _write_pq_meta(
            index_dir, {"built_nodes": snap.count(), "churn": 0}
        )
    tmp = _sync_cursor_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        # the cursor records the COLUMNS the index was built over, not
        # just the source table (round-8 ADVICE medium): maintain_table
        # and bare sync calls resolve them from here instead of
        # assuming the vec_id/embedding defaults — an index over
        # differently-named columns would otherwise throw mid-ladder.
        json.dump(
            {
                "table_dir": os.path.abspath(table_dir),
                "version": v,
                "id_col": id_col,
                "vec_col": vec_col,
            },
            f,
        )
    os.replace(tmp, _sync_cursor_path(index_dir))
    return cents


def sync_index_from_table(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    id_col: str | None = None,
    vec_col: str | None = None,
    hnsw_rebuild_debt: float = 0.2,
    pq_rebuild_debt: float = 0.2,
) -> dict:
    """Drain the table's change feed since the last synced version and
    apply the NET effect to the serving index, exactly-once:

    - the feed nets per id (an UPDATE's delete+insert pair in one
      commit nets to the post-image; across commits the latest change
      wins);
    - every changed id's existing rows leave the index by REWRITING
      only the buckets that hold them (located via a column-pruned
      id scan + semi-join — never a full-width scan; dynamic
      partition overwrite touches nothing else, and a bucket left
      empty has its partition directory removed);
    - net-inserted/updated vectors append via
      :func:`operators.similarity.append_to_ivf_index` (stats widen
      BEFORE data lands — the adaptive-probe certificate stays sound
      through every crash window);
    - the cursor advances LAST (atomic rename). A crash anywhere
      re-runs the same deterministic redo: the cleanup step finds any
      partial append's rows (their ids are changed ids by
      construction) and sweeps them before re-appending, so replays
      converge to exactly-once state. ``n_members`` in the stats
      sidecar may drift on such replays — diagnostic only, never a
      bound (the append contract's documented caveat).

    The HNSW tier (when present) maintains in the same pass: changed
    ids leave the graph via :func:`operators.hnsw.hnsw_remove`
    (neighbor repair — no deleted vector survives, the GDPR
    property), net upserts re-insert via ``hnsw_append``, and
    cumulative churn accrues against ``hnsw_rebuild_debt`` (fraction
    of the nodes the graph was last built over): past the threshold
    the sync REBUILDS the graph from the post-maintenance corpus and
    resets the debt — repairs keep the graph valid, but enough of
    them erode the small-world structure recall rides on. The PQ tier
    (when present) maintains in the same pass under IMMUTABLE
    codebooks — churned buckets rewrite code rows, upserts encode
    under the frozen model, churn accrues against ``pq_rebuild_debt``
    and past it the codebooks retrain from the post-maintenance
    corpus (:func:`_sync_ivfpq_tier`).

    Content-neutral source commits (compaction, OPTIMIZE, stats
    backfill) contribute nothing to the feed and therefore cost the
    index nothing. WRITER concurrency is single-writer (one sync at a
    time — it is a maintenance verb), but READERS are safe
    throughout: every bucket/graph rewrite lands as NEW files behind
    one atomic manifest flip (:func:`operators.similarity.
    publish_layout_manifest` — the txlog's own repoint discipline),
    so a server reading mid-sync sees the previous complete
    generation or the new one, never a torn mix; retired files
    age-gate away via ``vacuum_layout``. Returns {from_version,
    to_version, upserts, deletes, buckets_rewritten, hnsw, walls}."""
    from etl_sentinel_imagery_spark.operators.similarity import (
        append_to_ivf_index,
    )
    from etl_sentinel_imagery_spark.operators.txlog import (
        current_version,
        table_changes,
    )

    cur_path = _sync_cursor_path(index_dir)
    if not os.path.exists(cur_path):
        raise ValueError(
            "no sync cursor — create the index with "
            "build_index_from_table first"
        )
    # column names resolve from the build-time cursor (round-8 ADVICE
    # medium): None means "whatever the index was built over"; an
    # explicit arg that CONTRADICTS a recorded value refuses loudly —
    # draining the feed with the wrong columns would corrupt every
    # tier, not error politely. A pre-round-9 cursor records no
    # columns: there the explicit arg is the only signal and is
    # honored (back-compat for indexes built before the field
    # existed), with the old defaults as the final fallback.
    with open(cur_path) as f:
        _cur = json.load(f)
    resolved = []
    for arg, key, default in (
        (id_col, "id_col", "vec_id"),
        (vec_col, "vec_col", "embedding"),
    ):
        recorded = _cur.get(key)
        if recorded is not None and arg is not None and arg != recorded:
            raise ValueError(
                f"index {index_dir!r} was built with {key}="
                f"{recorded!r}; refusing to sync with {arg!r}"
            )
        resolved.append(recorded or arg or default)
    id_col, vec_col = resolved
    # the sync is single-writer BY CONTRACT (readers are safe
    # throughout via manifest flips); enforce it instead of trusting
    # the scheduler: an advisory flock held for the whole pass makes a
    # concurrent sync (maintain_table racing a manual call, two crons)
    # fail fast instead of interleaving bucket generations. Released
    # automatically on process death — no stale-lock recovery needed.
    # (flock is per-filesystem; an object-store deployment brings its
    # own mutex, as with the txlog's LogStore.)
    import fcntl

    lock_f = open(os.path.join(index_dir, "_sync.lock"), "w")
    try:
        fcntl.flock(lock_f, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        lock_f.close()
        raise RuntimeError(
            f"another sync holds {index_dir}/_sync.lock — the sync "
            "verb is single-writer; retry after it finishes"
        )
    try:
        return _sync_index_locked(
            spark, table_dir, index_dir, id_col, vec_col,
            hnsw_rebuild_debt, pq_rebuild_debt, cur_path,
        )
    finally:
        fcntl.flock(lock_f, fcntl.LOCK_UN)
        lock_f.close()


def _sync_index_locked(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    id_col: str,
    vec_col: str,
    hnsw_rebuild_debt: float,
    pq_rebuild_debt: float,
    cur_path: str,
) -> dict:
    from etl_sentinel_imagery_spark.operators.similarity import (
        append_to_ivf_index,
    )
    from etl_sentinel_imagery_spark.operators.txlog import (
        current_version,
        table_changes,
    )

    with open(cur_path) as f:
        cursor = json.load(f)
    from_v = int(cursor["version"])
    to_v = current_version(table_dir)
    if to_v <= from_v:
        return {
            "from_version": from_v,
            "to_version": to_v,
            "upserts": 0,
            "deletes": 0,
            "buckets_rewritten": 0,
        }
    import time as _time

    walls: dict = {}
    t0 = _time.time()
    feed = table_changes(spark, table_dir, from_v, to_v)
    # net per id: latest commit wins; within a commit the insert (an
    # update's post-image) beats the delete (its pre-image)
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.desc("_commit_version"),
        F.desc(F.col("_change_type") == "insert"),
    )
    net = (
        feed.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(
            id_col, vec_col, "_change_type"
        )
        .localCheckpoint(eager=True)  # one consistent slice for all legs
    )
    walls["net_feed_s"] = round(_time.time() - t0, 2)
    upserts = net.filter(F.col("_change_type") == "insert").select(
        id_col, vec_col
    )
    n_up = upserts.count()
    changed = net.select(id_col)
    ivf = _ivf_dir(index_dir)
    # column-pruned locate: only (id, bucket-partition) columns read
    t0 = _time.time()
    touched = (
        read_indexed_layout(spark, ivf)
        .select(id_col, "bucket")
        .join(F.broadcast(changed), id_col, "left_semi")
        .select("bucket")
        .distinct()
        .collect()
    )
    walls["locate_s"] = round(_time.time() - t0, 2)
    buckets = sorted(int(r["bucket"]) for r in touched)
    t0 = _time.time()
    if buckets:
        keep = (
            read_indexed_layout(spark, ivf)
            .filter(F.col("bucket").isin(buckets))
            .join(F.broadcast(changed), id_col, "left_anti")
            .localCheckpoint(eager=True)  # pin one consistent input
        )
        # VERSIONED REPOINT (round-6 verdict #4): survivors write as
        # NEW files beside the old ones, the manifest carries over
        # every untouched bucket's files, and ONE atomic pointer flip
        # publishes the generation — a reader that resolved the old
        # manifest keeps a complete old view (old files are not
        # deleted here; vacuum_layout age-gates them out), a reader
        # after the flip sees the complete new one. No torn state.
        before = set(list_layout_data_files(ivf))
        live = live_layout_files(ivf)
        live = sorted(before) if live is None else live
        keep.write.mode("append").partitionBy("bucket").parquet(ivf)
        new_files = [
            f for f in list_layout_data_files(ivf) if f not in before
        ]
        touched_pfx = tuple(f"bucket={b}/" for b in buckets)
        carried = [f for f in live if not f.startswith(touched_pfx)]
        manifest = carried + new_files
        if not manifest:
            # every row died (and any replacements land only in the
            # append step below): never publish an EMPTY manifest —
            # a reader in the window would have zero files to even
            # infer a schema from
            manifest = [
                _schema_preserving_empty(ivf, buckets[0], keep)
            ]
        publish_layout_manifest(ivf, manifest)
    walls["rewrite_s"] = round(_time.time() - t0, 2)
    t0 = _time.time()
    if n_up:
        append_to_ivf_index(
            upserts,
            load_centroids(index_dir),
            ivf,
            id_col=id_col,
            vec_col=vec_col,
        )
    walls["append_s"] = round(_time.time() - t0, 2)
    n_changed = changed.count()
    hnsw_info = None
    if os.path.isdir(_hnsw_dir(index_dir)):
        t0 = _time.time()
        hnsw_info = _sync_hnsw_tier(
            spark,
            index_dir,
            changed,
            upserts,
            n_changed,
            hnsw_rebuild_debt,
            id_col,
            vec_col,
        )
        walls["hnsw_s"] = round(_time.time() - t0, 2)
    pq_info = None
    if os.path.isdir(_ivfpq_dir(index_dir)):
        t0 = _time.time()
        pq_info = _sync_ivfpq_tier(
            spark,
            index_dir,
            changed,
            upserts,
            n_up,
            n_changed,
            pq_rebuild_debt,
            id_col,
            vec_col,
        )
        walls["ivfpq_s"] = round(_time.time() - t0, 2)
    tmp = cur_path + ".tmp"
    with open(tmp, "w") as f:
        # advance ONLY the version: the cursor also carries build-time
        # metadata (id_col/vec_col) that every later sync resolves from
        json.dump(
            {
                **cursor,
                "table_dir": os.path.abspath(table_dir),
                "version": to_v,
            },
            f,
        )
    os.replace(tmp, cur_path)
    return {
        "from_version": from_v,
        "to_version": to_v,
        "upserts": n_up,
        "deletes": n_changed - n_up,
        "buckets_rewritten": len(buckets),
        "hnsw": hnsw_info,
        "ivfpq": pq_info,
        "walls": walls,
    }


def _sync_hnsw_tier(
    spark: SparkSession,
    index_dir: str,
    changed,
    upserts,
    n_changed: int,
    rebuild_debt: float,
    id_col: str,
    vec_col: str,
) -> dict:
    """The graph tier's leg of the sync: remove every changed id with
    neighbor repair (deletes AND update pre-images — the repair needs
    no dead vectors, so a purge leaves nothing behind), re-insert the
    net upserts, and track cumulative churn against the rebuild-debt
    threshold — past it, rebuild from the post-maintenance corpus
    (repairs keep the graph valid, but enough of them erode the
    small-world structure). IDEMPOTENT on replay after a crash:
    removal of already-removed ids is a no-op, and re-appending the
    same upserts after removing them converges to the same graph.
    Every write is a new-files + manifest-flip generation
    (:func:`_persist_graph_versioned`) — concurrent readers see old
    or new, never a mix."""
    from etl_sentinel_imagery_spark.operators.hnsw import (
        hnsw_append,
        hnsw_remove,
    )

    hdir = _hnsw_dir(index_dir)
    corpus = read_indexed_layout(spark, _ivf_dir(index_dir)).select(
        id_col, vec_col
    )
    graph = read_indexed_layout(spark, hdir)
    meta = _read_hnsw_meta(index_dir)
    if meta is None:  # legacy graph built before maintenance existed
        meta = {
            "n_shards": _legacy_shard_modulus(graph),
            "built_nodes": graph.filter(F.col("level") == 0).count(),
            "churn": 0,
        }
    churn = int(meta["churn"]) + n_changed
    built = max(int(meta["built_nodes"]), 1)
    if rebuild_debt is not None and churn / built > rebuild_debt:
        from etl_sentinel_imagery_spark.operators.hnsw import hnsw_build

        rebuilt = hnsw_build(
            corpus,
            n_shards=int(meta["n_shards"]),
            id_col=id_col,
            vec_col=vec_col,
        )
        _persist_graph_versioned(rebuilt, hdir)
        _write_hnsw_meta(
            index_dir,
            {
                "n_shards": int(meta["n_shards"]),
                "built_nodes": corpus.count(),
                "churn": 0,
            },
        )
        return {"action": "rebuild", "churn": churn, "debt": churn / built}
    pruned = hnsw_remove(
        graph, changed.select(id_col), corpus,
        id_col=id_col, vec_col=vec_col,
    )
    # upsert ids flow as a DataFrame into a semi-join inside
    # hnsw_append — never through the driver as an isin literal (a
    # million-row sync batch would blow up the expression tree)
    if upserts.select(id_col).limit(1).count():
        pruned = hnsw_append(
            corpus,
            pruned,
            upserts.select(id_col),
            n_shards=int(meta["n_shards"]),
            id_col=id_col,
            vec_col=vec_col,
        )
    _persist_graph_versioned(pruned, hdir)
    _write_hnsw_meta(index_dir, {**meta, "churn": churn})
    return {"action": "repair", "churn": churn, "debt": churn / built}


def _sync_ivfpq_tier(
    spark: SparkSession,
    index_dir: str,
    changed,
    upserts,
    n_up: int,
    n_changed: int,
    rebuild_debt: float,
    id_col: str,
    vec_col: str,
) -> dict:
    """The compressed tier's leg of the sync — the LAST tier refusal
    removed (round-7 verdict #4). Codebooks stay IMMUTABLE between
    rebuilds, which is what makes incremental maintenance sound: a
    vector's codes are a pure function of (vector, frozen model), so

    - every changed id's codes leave by rewriting ONLY the buckets
      holding them (survivors carry their code bytes verbatim —
      re-encoding them under the same frozen model would reproduce the
      same bytes, so the carry IS the bucket-local re-encode),
    - net upserts encode under the frozen model and land in their
      buckets,

    all as NEW files behind ONE manifest flip — tombstone-free like
    the HNSW leg: nothing of a purged vector's codes survives in any
    published generation (GDPR on the compressed tier), and a reader
    mid-sync sees the old complete generation or the new one.

    Frozen codebooks quantize DRIFTED distributions progressively
    worse, so cumulative churn accrues against ``rebuild_debt``
    (fraction of the corpus the codebooks were trained over): past it,
    the codebooks RETRAIN from the post-maintenance corpus (same
    m/k/opq/residual configuration read off the stored model) and the
    whole tier rewrites — the same erosion argument as the graph
    tier's repair debt. IDEMPOTENT on crash replay: re-running finds
    the previously appended rows' ids in ``changed`` (upserted ids are
    changed ids by construction), sweeps them in the rewrite, and
    re-appends — converging to the same generation."""
    from etl_sentinel_imagery_spark.operators.ivfpq import (
        ivfpq_encode,
        load_model,
        rebuild_ivfpq_index,
        train_residual_codebooks,
    )

    pqdir = _ivfpq_dir(index_dir)
    meta = _read_pq_meta(index_dir)
    if meta is None:  # tier built before maintenance metadata existed
        meta = {
            "built_nodes": read_indexed_layout(spark, pqdir).count(),
            "churn": 0,
        }
    churn = int(meta["churn"]) + n_changed
    built = max(int(meta["built_nodes"]), 1)
    centroids, codebooks, rotation, residual = load_model(pqdir)
    if rebuild_debt is not None and churn / built > rebuild_debt:
        corpus = read_indexed_layout(
            spark, _ivf_dir(index_dir)
        ).select(id_col, vec_col)
        if corpus.limit(1).count() == 0:
            # debt crossed on a FULLY-PURGED corpus: there is nothing
            # to retrain on — publish an empty generation under the
            # frozen model (same write-new + flip discipline) so
            # readers get zero candidates instead of the trainers
            # crashing the maintenance ladder mid-run
            from etl_sentinel_imagery_spark.operators.similarity import (
                live_layout_model,
            )

            codes = read_indexed_layout(spark, pqdir)
            publish_layout_manifest(
                pqdir,
                [_schema_preserving_empty(pqdir, 0, codes)],
                model=live_layout_model(pqdir),
            )
            _write_pq_meta(index_dir, {"built_nodes": 0, "churn": 0})
            return {
                "action": "rebuild_empty",
                "churn": churn,
                "debt": churn / built,
            }
        m, kk = int(codebooks.shape[0]), int(codebooks.shape[1])
        if residual:
            if rotation is not None:
                rot2, books2 = train_residual_codebooks(
                    corpus, centroids, m=m, k=kk, vec_col=vec_col,
                    opq=True,
                )
            else:
                rot2, books2 = None, train_residual_codebooks(
                    corpus, centroids, m=m, k=kk, vec_col=vec_col,
                )
        else:
            from etl_sentinel_imagery_spark.operators.similarity import (
                train_opq,
                train_pq_codebooks,
            )

            if rotation is not None:
                rot2, books2 = train_opq(
                    corpus, m=m, k=kk, vec_col=vec_col
                )
            else:
                rot2, books2 = None, train_pq_codebooks(
                    corpus, m=m, k=kk, vec_col=vec_col
                )
        # round-8 ADVICE (high): the old write_ivfpq_index overwrite
        # deleted the live generation in place; the rebuild now lands
        # as NEW files + a versioned model dir behind ONE manifest
        # flip, old generation left for vacuum_layout's age gate —
        # mirroring _persist_graph_versioned and the repair leg below.
        rebuild_ivfpq_index(
            corpus, centroids, books2, pqdir, rotation=rot2,
            residual=residual, id_col=id_col, vec_col=vec_col,
        )
        _write_pq_meta(
            index_dir, {"built_nodes": corpus.count(), "churn": 0}
        )
        return {"action": "rebuild", "churn": churn, "debt": churn / built}
    codes = read_indexed_layout(spark, pqdir)
    touched = (
        codes.select(id_col, "bucket")
        .join(F.broadcast(changed), id_col, "left_semi")
        .select("bucket")
        .distinct()
        .collect()
    )
    buckets = sorted(int(r["bucket"]) for r in touched)
    before = set(list_layout_data_files(pqdir))
    live = live_layout_files(pqdir)
    live = sorted(before) if live is None else live
    if buckets:
        keep = (
            codes.filter(F.col("bucket").isin(buckets))
            .join(F.broadcast(changed), id_col, "left_anti")
            .localCheckpoint(eager=True)
        )
        keep.write.mode("append").partitionBy("bucket").parquet(pqdir)
    if n_up:
        ivfpq_encode(upserts, pqdir, id_col, vec_col).write.mode(
            "append"
        ).partitionBy("bucket").parquet(pqdir)
    if buckets or n_up:
        new_files = [
            f for f in list_layout_data_files(pqdir) if f not in before
        ]
        touched_pfx = tuple(f"bucket={b}/" for b in buckets)
        carried = [
            f for f in live if not f.startswith(touched_pfx)
        ] if touched_pfx else list(live)
        manifest = carried + new_files
        if not manifest:
            manifest = [
                _schema_preserving_empty(pqdir, buckets[0], codes)
            ]
        # carry the model binding forward: the repair leg encodes with
        # the live generation's frozen model, so the new manifest must
        # keep naming it (a repair after a retrain-rebuild would
        # otherwise drop the field and fall back to _model/_CURRENT)
        from etl_sentinel_imagery_spark.operators.similarity import (
            live_layout_model,
        )

        publish_layout_manifest(
            pqdir, manifest, model=live_layout_model(pqdir)
        )
    _write_pq_meta(index_dir, {**meta, "churn": churn})
    return {
        "action": "repair",
        "churn": churn,
        "debt": churn / built,
        "buckets_rewritten": len(buckets),
    }
