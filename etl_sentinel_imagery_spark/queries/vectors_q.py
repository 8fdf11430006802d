"""Embedding similarity battery over the embeddings table.

Scores are bit-deterministic across engines: float32 arrays are widened
to double (exact), then dotted/normed with explicit sequential left-folds
that DuckDB's list_reduce reproduces op-for-op (see operators.similarity).
The IVF variant is the scale path — approximate by construction, so it
carries no SQL oracle (rows-only check) and is instead validated by a
recall-vs-brute-force pytest.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.operators.similarity import (
    as_double_array,
    brute_force_topk,
    ivf_topk,
    l2_norm_sq,
)
from etl_sentinel_imagery_spark.overlap import overlap
from etl_sentinel_imagery_spark.queries.base import Q
from etl_sentinel_imagery_spark.sources.tables import load_table

N_QUERIES = 20
TOP_K = 5
N_CENTROIDS = 8


def _tmp_index_dir(prefix: str) -> str:
    """A fresh single-use persisted-index dir, reclaimed at process
    exit. With the cross-invocation memos removed (round 12), every
    invocation builds its own index — bench runs (REPS × batteries)
    were accumulating corpus-scale parquet under /tmp with no owner
    (round-12 ADVICE #4). Deletion must wait for exit because the
    returned DataFrames read the index lazily at action time."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
NEAR_DUP_THRESHOLD = 0.42  # this corpus's max pairwise cosine is ~0.51 —
# 0.42 keeps the query discriminating; real near-dup dedup uses ~0.95
# (operator default), which on THIS synthetic data returns an empty set.

# DuckDB fragments mirroring the sequential folds --------------------------
_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i])), "
    "(acc, x) -> acc + x)"
)
_NORM_SQ = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len({a})+1), i -> {a}[i] * {a}[i])), "
    "(acc, x) -> acc + x)"
)

#: unit-normalized embeddings CTE — norms computed once per row, exactly
#: mirroring operators.similarity.with_normalized's op sequence.
_NORMED_CTE = f"""
normed AS (
    SELECT vec_id,
           list_transform(v, x -> x / nrm) AS vn
    FROM (
        SELECT vec_id, v, sqrt({_NORM_SQ.format(a="v")}) AS nrm
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    )
)
"""


def _quant_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norms + int8 quantization in one oracle-checked battery: per-vector
    L2 norm (sequential-fold exact) joined with integer statistics of the
    per-corpus symmetric int8 code (operators.similarity.
    quantize_embeddings_int8 — the 4× ANN storage lever). All quantized
    outputs are integers, so the row hash is rounding-mode-proof; the
    only doubles are the norm (exact fold) and the corpus scale (one
    max-fold → division, identical in both engines)."""
    from etl_sentinel_imagery_spark.operators.similarity import (
        hamming,
        quantize_embeddings_int8,
        sign_pack,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    quantized, scale = quantize_embeddings_int8(emb)
    q = F.col("q_embedding")
    qstats = quantized.select(
        "vec_id",
        F.aggregate(
            q, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("q_sum"),
        F.array_min(q).cast("int").alias("q_min"),
        F.array_max(q).cast("int").alias("q_max"),
        F.size(F.filter(q, lambda x: F.abs(x) == 127)).alias("n_sat"),
        F.size(F.filter(q, lambda x: x == 0)).alias("n_zero"),
        F.lit(scale).alias("scale"),
    )
    vec = as_double_array("embedding")
    # binary tier: packed sign bits + Hamming distance to vec 0 — the
    # 32x storage lever, checked through the REAL packed-word XOR +
    # popcount kernel (the oracle restates it unpacked over positions)
    v0 = emb.filter(F.col("vec_id") == 0).select(
        sign_pack(as_double_array("embedding")).alias("_bits0")
    )
    norms = emb.crossJoin(F.broadcast(v0)).select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.sqrt(l2_norm_sq(vec)).alias("l2_norm"),
        F.aggregate(
            sign_pack(vec),
            F.lit(0),
            lambda a, x: a + F.bit_count(x),
        ).alias("n_pos_bits"),
        hamming(sign_pack(vec), F.col("_bits0")).alias("hamming_to_v0"),
    )
    return norms.join(qstats, "vec_id")


_ABS_MAX_FOLD = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), "
    "(acc, x) -> greatest(acc, x))"
)

_QUANT_BATTERY_SQL = f"""
WITH amax AS (SELECT max({_ABS_MAX_FOLD}) AS a FROM embeddings),
v0 AS (SELECT embedding AS e0 FROM embeddings WHERE vec_id = 0),
q AS (
    SELECT vec_id, label,
           len(embedding) AS dim,
           sqrt({_NORM_SQ.format(a="CAST(embedding AS DOUBLE[])")}) AS l2_norm,
           a / 127.0 AS scale,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(round(x / (a / 127.0)) AS BIGINT)) AS qv,
           -- sign-bit tier restated UNPACKED: the Spark side packs into
           -- 32-bit words and XOR/popcounts; semantically both count
           -- positions whose sign bit (x > 0) is set / differs
           len(list_filter(embedding, x -> x > 0)) AS n_pos_bits,
           len(list_filter(range(1, len(embedding) + 1),
                           i -> (embedding[i] > 0) <> (e0[i] > 0)))
               AS hamming_to_v0
    FROM embeddings, amax, v0
)
SELECT vec_id, label, dim, l2_norm,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS INTEGER) AS q_min,
       CAST(list_max(qv) AS INTEGER) AS q_max,
       len(list_filter(qv, x -> abs(x) = 127)) AS n_sat,
       len(list_filter(qv, x -> x = 0)) AS n_zero,
       scale,
       CAST(n_pos_bits AS INTEGER) AS n_pos_bits,
       CAST(hamming_to_v0 AS INTEGER) AS hamming_to_v0
FROM q
"""


def _cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, F.col("vec_id") < N_QUERIES, k=TOP_K)


# round 12: the per-(process, sf_dir) index-path memos that let repeat
# invocations skip the index build were REMOVED — the optimization
# brief forbids module-level memos keyed on the test data (a bench rep
# that reuses the previous rep's persisted index measures probe-only
# and misreports the battery's cost). Every invocation now builds its
# index from the parquet inputs in a fresh temp dir; the build is
# deterministic, so results are unchanged.


def _centroids(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Deterministic centroid seed: the first N_CENTROIDS vectors by id
    (a k-means init stand-in; at scale this would be a sampled k-means||)."""
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_CENTROIDS)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    return np.array([r["embedding"] for r in rows], dtype="float64")


def _seeded_index_path(spark: SparkSession, sf_dir: str, emb) -> str:
    """Persisted seeded-IVF index for this invocation, built fresh
    from the parquet inputs (no cross-invocation memo — round 12)."""
    from etl_sentinel_imagery_spark.operators.similarity import (
        write_ivf_index,
    )

    index_path = _tmp_index_dir("ann_ivf_idx_")
    write_ivf_index(emb, _centroids(spark, sf_dir), index_path)
    return index_path


def _ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded-IVF top-k alone (no battery tagging) — the recall-vs-brute-
    force pytest fixture path (tests/test_vectors.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, F.col("vec_id") < N_QUERIES, _centroids(spark, sf_dir), k=TOP_K
    )


def _near_dup_pairs(
    spark: SparkSession, sf_dir: str, normed: DataFrame | None = None
) -> DataFrame:
    """Embedding-cosine high-similarity pairs, exact pairwise.

    At 100 TB this exact form is replaced by LSH/IVF blocking; it stays
    here as the oracle-checkable ground truth the blocked variants are
    measured against. ``normed``: optional shared (vid, vn) frame
    (see :func:`_ann_deterministic_battery` — round 12)."""
    from etl_sentinel_imagery_spark.operators.similarity import dot, with_normalized

    if normed is None:
        emb = load_table(spark, sf_dir, "embeddings")
        a = with_normalized(emb, "vec_id", "embedding", "id_a", "va")
        b = with_normalized(
            emb, "vec_id", "embedding", "id_b", "vb", spread=False
        )
    else:
        a = normed.select(
            F.col("vid").alias("id_a"), F.col("vn").alias("va")
        )
        b = normed.select(
            F.col("vid").alias("id_b"), F.col("vn").alias("vb")
        )
    # broadcast the right side: the theta-join (id_a < id_b) is a nested-
    # loop join — broadcasting parallelizes it across the left's partitions
    # (broadcast-bound side skips the parallelism exchange: spread=False)
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dot(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= F.lit(NEAR_DUP_THRESHOLD))
    )


#: Pull factor for the certified leg's clustered twin corpus: each
#: (unit-normalized) vector plus CLUSTER_PULL × its anchor (anchor =
#: fold-normalized embedding vec_id % N_CENTROIDS). The raw corpus is
#: near-isotropic (max pairwise cos ~0.51), so triangle-inequality
#: certificates can NEVER fire on it at serving probe depths — bucket
#: radii approach 90° and every unprobed bound saturates near 1. The
#: pull creates genuinely tight, well-separated buckets (intra-cluster
#: cos ≈ 0.94, cross-anchor ≈ ±0.2, radius ≈ 20°) where the serving
#: default n_probe=2 certifies with WIDE margins — the certificate
#: machinery is exercised for real, not vacuously.
CLUSTER_PULL = 4.0

#: Per-sf_dir temp path of the certified leg's clustered index.
# (the former _CERT_INDEX_CACHE memo was removed in round 12 — see the
# note above _centroids: no module-level memo keyed on the test data)


def _certified_leg(spark, sf_dir, emb, tag, normed=None):
    """Round-9 verdict #5: the exactness-certified part of the serving
    tier under the STRICT hash. Build the clustered twin corpus with
    fold-only arithmetic (DuckDB restates it bit-for-bit), run the
    REAL machinery — write_ivf_index (numpy assignment + _bucket_stats
    sidecar) and ivf_topk_indexed_adaptive at the n_probe=2 serving
    default — and keep the queries whose certificate proves the probed
    top-k is the GLOBAL top-k. A certified answer equals brute force
    BY PROOF, so the leg emits the fold-exact brute rows over the twin
    corpus for exactly that query set; the oracle re-derives the set
    from pure bound arithmetic (radius = acos(min member↔centroid
    cos); cap = cos(max(acos(sim) − radius, 0)); certify iff the full
    probed top-k strictly beats every unprobed cap + 1e-12). The
    engine's numpy-side probe math differs from the oracle's folds
    only in final ulps, and the clustered margins (kth ≈ 0.93 vs
    bounds ≈ 0.55) are ~12 orders of magnitude wider."""
    from etl_sentinel_imagery_spark.operators.similarity import (
        ivf_topk_indexed_adaptive,
    )

    corpus2, anchors, index_path = _cert_twin_setup(
        spark, sf_dir, emb, normed=normed
    )
    cert_ids = (
        ivf_topk_indexed_adaptive(
            spark,
            index_path,
            corpus2.filter(F.col("vec_id") < N_QUERIES),
            anchors,
            k=TOP_K,
        )
        .filter(F.col("exact"))
        .select("query_id")
        .distinct()
    )
    return tag(
        brute_force_topk(
            corpus2, F.col("vec_id") < N_QUERIES, k=TOP_K
        ).join(F.broadcast(cert_ids), "query_id"),
        "ivf_certified",
    )


def _cert_twin_setup(spark, sf_dir, emb, normed=None):
    """(clustered twin corpus, anchors, persisted index path) — shared
    by the certified leg and its engine-side soundness pytest (the
    battery emits brute rows BY PROOF, so the proof itself — certified
    probe answers equal brute force — is pinned where certificates
    actually fire, tests/test_vectors.py). ``normed``: optional shared
    (vid, vn) unit-normalized frame (round 12)."""
    from etl_sentinel_imagery_spark.operators.similarity import (
        with_normalized,
        write_ivf_index,
    )

    if normed is None:
        normed = with_normalized(emb, "vec_id", "embedding", "vid", "vn")
    anch = normed.filter(F.col("vid") < N_CENTROIDS).select(
        F.col("vid").cast("int").alias("cidx"),
        F.col("vn").alias("av"),
    )
    corpus2 = (
        normed.join(
            F.broadcast(anch),
            (F.col("vid") % N_CENTROIDS).cast("int") == F.col("cidx"),
        )
        .select(
            F.col("vid").alias("vec_id"),
            F.zip_with(
                "vn",
                "av",
                lambda x, y: x + F.lit(CLUSTER_PULL) * y,
            ).alias("embedding"),
        )
        # the twin corpus is query-battery-sized (≤ a few thousand
        # rows); 32 near-empty partitions would pay a Python-worker
        # spawn per partition in EVERY downstream Arrow job (assign,
        # stats, probe, brute) — measured 12 s → ~3 s on the index
        # build alone at sf0.1
        .coalesce(2)
    )
    anchors = np.array(
        [
            r["av"]
            for r in anch.orderBy("cidx").select("av").collect()
        ],
        dtype="float64",
    )
    index_path = _tmp_index_dir("ann_cert_idx_")
    # the BUILD path evaluates corpus2 three times (assign, stats,
    # write) — pin it there; the probe/brute path re-derives the
    # tiny frame lazily instead of paying an eager checkpoint job
    # on every battery run (pure fold arithmetic: re-evaluation is
    # deterministic)
    write_ivf_index(
        corpus2.localCheckpoint(eager=True), anchors, index_path
    )
    return corpus2, anchors, index_path


def _ann_deterministic_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every fully deterministic similarity ground truth under ONE
    strict value oracle — four tiers tagged by ``method``:

    - ``brute``: exact cosine top-k (the O(n²) sf-capped anchor every
      approximate tier's recall is measured against);
    - ``near_dup``: exact threshold pairs (cos ≥ NEAR_DUP_THRESHOLD),
      ranked within each left id — the near-duplicate ground truth the
      LSH/IVF blocking paths approximate;
    - ``seeded_expr``: seeded IVF (first-8 centroids, argmax assignment,
      2-probe) computed with expression-only sequential-fold math
      (operators.similarity.ivf_topk_expr) so DuckDB restates the whole
      plan — assignment windows, probe ranks, scores — bit-for-bit;
    - ``int8``: brute-force cosine over the per-corpus int8 code — the
      4× compression tier, whose quantize→dequantize→normalize→dot
      chain is integer-exact up to the shared sequential folds.

    - ``ivf_certified`` (round-9 verdict #5): the queries whose
      ADAPTIVE-probe serving answer carries a true exactness
      certificate (operators.similarity.ivf_topk_indexed_adaptive —
      triangle-inequality bucket bounds prove the probed top-k IS the
      global top-k), run over a deterministic CLUSTERED twin corpus
      (see :data:`CLUSTER_PULL` — the raw corpus is near-isotropic,
      where certificates can never fire). A certified answer equals
      brute force BY PROOF, so the leg emits the twin corpus's
      fold-exact brute rows for exactly the certified query set and
      the oracle re-derives that set from pure bound arithmetic
      (bucket radii → per-query unprobed caps → kth-score test).
      This graduates the certified part of the serving tier from the
      rows-only check to the strict hash; only the UNcertified
      remainder — approximate in principle, not just in harness —
      stays rows-only in ann_ivf_battery.

    ``brute``/``near_dup`` were standalone registry rows
    (cosine_topk_bruteforce / embedding_near_dup_pairs) through round
    5; they folded in here — identical plans, identical oracles, same
    (method, query_id, cand_id, score, rnk) shape — so every oracle
    row fits the driver's 50-row gate (round-5 verdict #5) with zero
    strict coverage lost. The approximate/trained tiers (k-means IVF,
    PQ ADC, HNSW) stay in ann_ivf_battery under the rows-only check
    with recall pinned in pytest — approximation, not determinism, is
    what blocks their oracle."""
    from pyspark.sql import Window

    from etl_sentinel_imagery_spark.operators.similarity import (
        dequantize_topk,
        dot,
        ivf_topk_expr,
        ivf_topk_indexed_adaptive,
        quantize_embeddings_int8,
        with_normalized,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    def tag(df: DataFrame, method: str) -> DataFrame:
        return df.select(
            F.lit(method).alias("method"),
            "query_id",
            "cand_id",
            F.col("cos_sim").alias("score"),
            "rnk",
        )

    # ONE unit-normalization of the corpus, checkpointed and shared by
    # the brute / near_dup / seeded_expr / certified legs (round 12 —
    # each leg re-derived its own scan + repartition + fold-normalize;
    # normalization is per-row arithmetic, so the shared frame is
    # value-identical to each leg's private one). The int8 and quant
    # legs normalize DIFFERENT vectors (dequantized / raw norms) and
    # keep their own paths.
    normed = with_normalized(
        emb, "vec_id", "embedding", "vid", "vn"
    ).localCheckpoint(eager=True)
    # the certified leg's construction is EAGER (twin-corpus
    # checkpoint, anchor collect, persisted index build+stats) and
    # independent of every other leg once `normed` lands — overlap it
    # with the int8 leg's amax collect and the remaining lazy
    # plan-building instead of queueing them behind it (guide §2.6)
    def _other_legs():
        cand = normed.select(
            F.col("vid").alias("cand_id"), F.col("vn").alias("cand_vec")
        )
        qry = normed.filter(F.col("vid") < N_QUERIES).select(
            F.col("vid").alias("query_id"), F.col("vn").alias("query_vec")
        )
        bw = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("cand_id")
        )
        brute_df = (
            cand.join(F.broadcast(qry))
            .filter(F.col("cand_id") != F.col("query_id"))
            .select(
                "query_id",
                "cand_id",
                dot(F.col("query_vec"), F.col("cand_vec")).alias("cos_sim"),
            )
            .withColumn("rnk", F.row_number().over(bw))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "cand_id", "cos_sim", "rnk")
        )
        brute = tag(brute_df, "brute")
        w = Window.partitionBy("id_a").orderBy(
            F.col("cos_sim").desc(), F.col("id_b")
        )
        near = _near_dup_pairs(spark, sf_dir, normed=normed).select(
            F.lit("near_dup").alias("method"),
            F.col("id_a").alias("query_id"),
            F.col("id_b").alias("cand_id"),
            F.col("cos_sim").alias("score"),
            F.row_number().over(w).alias("rnk"),
        )
        seeded = tag(
            ivf_topk_expr(
                emb,
                F.col("vec_id") < N_QUERIES,
                n_centroids=N_CENTROIDS,
                k=TOP_K,
                normed=normed,
            ),
            "seeded_expr",
        )
        quantized, scale = quantize_embeddings_int8(emb)
        qids = emb.filter(F.col("vec_id") < N_QUERIES)
        int8 = tag(
            dequantize_topk(quantized, qids.select("vec_id"), scale, k=TOP_K),
            "int8",
        )
        # round 12: the battery absorbed the former embedding_quant_battery
        # row (per-vector norms + int8/sign-bit quantization integer stats)
        # so the registry fits the driver's 50-row correctness window —
        # same columns, tagged method='quant', NULL on the ANN tiers' rows
        quant = _quant_battery(spark, sf_dir).withColumn(
            "method", F.lit("quant")
        )
        return brute, near, seeded, int8, quant

    certified, (brute, near, seeded, int8, quant) = overlap(
        spark,
        lambda: _certified_leg(spark, sf_dir, emb, tag, normed),
        _other_legs,
    )
    return (
        brute.unionByName(near)
        .unionByName(seeded)
        .unionByName(int8)
        .unionByName(certified)
        .unionByName(quant, allowMissingColumns=True)
    )


_N_PROBE = 2

_ANN_DETERMINISTIC_SQL = f"""
WITH {_NORMED_CTE},
brute_scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           {_DOT.format(a="q.vn", b="c.vn")} AS score
    FROM normed q
    JOIN normed c ON c.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES}
),
brute_topk AS (
    SELECT 'brute' AS method, query_id, cand_id, score, rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rnk
          FROM brute_scored)
    WHERE rnk <= {TOP_K}
),
near_pairs AS (
    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
           {_DOT.format(a="a.vn", b="b.vn")} AS score
    FROM normed a
    JOIN normed b ON a.vec_id < b.vec_id
    WHERE {_DOT.format(a="a.vn", b="b.vn")} >= {NEAR_DUP_THRESHOLD}
),
near_topk AS (
    SELECT 'near_dup' AS method, query_id, cand_id, score,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score DESC, cand_id ASC
           ) AS rnk
    FROM near_pairs
),
cent AS (
    SELECT CAST(vec_id AS INTEGER) AS cidx, vn AS cv
    FROM normed WHERE vec_id < {N_CENTROIDS}
),
sims AS (
    SELECT n.vec_id AS vid, n.vn, c.cidx,
           {_DOT.format(a="n.vn", b="c.cv")} AS sim
    FROM normed n CROSS JOIN cent c
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vid ORDER BY sim DESC, cidx ASC) AS r
    FROM sims
),
buckets AS (
    SELECT vid AS cand_id, cidx AS bucket, vn AS cv FROM ranked WHERE r = 1
),
probes AS (
    SELECT vid AS query_id, cidx AS bucket, vn AS qv
    FROM ranked WHERE r <= {_N_PROBE} AND vid < {N_QUERIES}
),
ivf_scored AS (
    SELECT p.query_id, b.cand_id,
           {_DOT.format(a="p.qv", b="b.cv")} AS score
    FROM probes p JOIN buckets b USING (bucket)
    WHERE b.cand_id != p.query_id
),
ivf_topk AS (
    SELECT 'seeded_expr' AS method, query_id, cand_id, score, rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rnk
          FROM ivf_scored)
    WHERE rnk <= {TOP_K}
),
amax AS (SELECT max({_ABS_MAX_FOLD}) AS a FROM embeddings),
deq AS (
    SELECT vec_id,
           list_transform(
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(round(x / (a / 127.0)) AS BIGINT)),
               x -> x * (a / 127.0)) AS v
    FROM embeddings, amax
),
dbase AS (
    SELECT vec_id, list_transform(v, x -> x / sqrt(n2)) AS vn
    FROM (SELECT vec_id, v, {_NORM_SQ.format(a="v")} AS n2 FROM deq)
    WHERE n2 > 0
),
int8_scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           {_DOT.format(a="q.vn", b="c.vn")} AS score
    FROM dbase q JOIN dbase c ON c.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES}
),
int8_topk AS (
    SELECT 'int8' AS method, query_id, cand_id, score, rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rnk
          FROM int8_scored)
    WHERE rnk <= {TOP_K}
),
-- the exactness certificate (round-9 verdict #5), restated as pure
-- arithmetic over the clustered TWIN corpus (each unit vector +
-- CLUSTER_PULL × its anchor — the raw corpus is near-isotropic, so
-- certificates can never fire on it): bucket angular radius r_b =
-- acos(min member↔centroid cosine); per (query, bucket) the triangle
-- inequality caps any member similarity at cos(max(acos(sim) − r_b,
-- 0)); a query certifies iff its FULL probed top-k strictly beats
-- every unprobed bucket's cap (+1e-12, the engine's own float pad).
-- A certified probe result provably equals the GLOBAL top-k, so the
-- certified rows are the twin corpus's brute rows for those queries.
cert_corpus AS (
    SELECT n.vec_id,
           list_transform(range(1, len(n.vn)+1),
                          i -> n.vn[i] + {CLUSTER_PULL} * c.cv[i]) AS v2
    FROM normed n JOIN cent c
      ON c.cidx = CAST(n.vec_id % {N_CENTROIDS} AS INTEGER)
),
cert_normed AS (
    SELECT vec_id, list_transform(v2, x -> x / nrm) AS vn
    FROM (SELECT vec_id, v2, sqrt({_NORM_SQ.format(a="v2")}) AS nrm
          FROM cert_corpus)
),
cert_sims AS (
    SELECT n.vec_id AS vid, n.vn, c.cidx,
           {_DOT.format(a="n.vn", b="c.cv")} AS sim
    FROM cert_normed n CROSS JOIN cent c
),
cert_ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vid ORDER BY sim DESC, cidx ASC) AS r
    FROM cert_sims
),
cert_buckets AS (
    SELECT vid AS cand_id, cidx AS bucket, vn AS cv
    FROM cert_ranked WHERE r = 1
),
cert_bstats AS (
    SELECT bk.bucket,
           min({_DOT.format(a="bk.cv", b="c.cv")}) AS min_cos
    FROM cert_buckets bk JOIN cent c ON c.cidx = bk.bucket
    GROUP BY bk.bucket
),
cert_qb AS (
    SELECT r.vid AS query_id, r.r AS pos,
           cos(greatest(
               acos(least(greatest(r.sim, -1.0), 1.0))
               - acos(least(greatest(COALESCE(s.min_cos, 1.0), -1.0),
                            1.0)),
               0.0)) AS bound
    FROM cert_ranked r LEFT JOIN cert_bstats s ON s.bucket = r.cidx
    WHERE r.vid < {N_QUERIES}
),
cert_ub AS (
    -- n_centroids > n_probe, so every query has unprobed buckets
    SELECT query_id, max(bound) AS unprobed_bound
    FROM cert_qb WHERE pos > {_N_PROBE}
    GROUP BY query_id
),
cert_probes AS (
    SELECT vid AS query_id, cidx AS bucket, vn AS qv
    FROM cert_ranked WHERE r <= {_N_PROBE} AND vid < {N_QUERIES}
),
cert_scored AS (
    SELECT p.query_id, b.cand_id,
           {_DOT.format(a="p.qv", b="b.cv")} AS score
    FROM cert_probes p JOIN cert_buckets b USING (bucket)
    WHERE b.cand_id != p.query_id
),
cert_probed_topk AS (
    SELECT query_id, cand_id, score, rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id
              ORDER BY score DESC, cand_id ASC) AS rnk
          FROM cert_scored)
    WHERE rnk <= {TOP_K}
),
cert_ids AS (
    SELECT t.query_id
    FROM cert_probed_topk t JOIN cert_ub u ON u.query_id = t.query_id
    GROUP BY t.query_id, u.unprobed_bound
    HAVING count(*) >= {TOP_K}
       AND min(t.score) > u.unprobed_bound + 1e-12
),
cert_brute AS (
    SELECT q.vec_id AS query_id, c2.vec_id AS cand_id,
           {_DOT.format(a="q.vn", b="c2.vn")} AS score
    FROM cert_normed q JOIN cert_normed c2 ON c2.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES}
),
cert_topk AS (
    SELECT 'ivf_certified' AS method, query_id, cand_id, score, rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id
              ORDER BY score DESC, cand_id ASC) AS rnk
          FROM cert_brute) JOIN cert_ids USING (query_id)
    WHERE rnk <= {TOP_K}
)
SELECT * FROM brute_topk
UNION ALL SELECT * FROM near_topk
UNION ALL SELECT * FROM ivf_topk
UNION ALL SELECT * FROM int8_topk
UNION ALL SELECT * FROM cert_topk
"""

# round 12: the quant tier rides in the same strict row (driver 50-row
# window) — same oracle columns, tagged method='quant'
_ANN_DETERMINISTIC_SQL = f"""
SELECT * FROM ({_ANN_DETERMINISTIC_SQL})
UNION ALL BY NAME
SELECT 'quant' AS method, * FROM ({_QUANT_BATTERY_SQL})
"""


def _ann_ivf_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every compressed/approximate ANN tier in one result, tagged by
    ``method`` (score semantics per tier: cosine for seeded/kmeans/int8 —
    higher is better; ADC squared-L2 for pq — lower is better):

    - ``ivf_adaptive``: THE SERVING DEFAULT — multi-probe over a
      PERSISTED seeded-IVF index (operators.similarity.
      ivf_topk_indexed_adaptive) with the per-query exactness
      certificate surfaced as the ``exact`` column: true iff the
      triangle-inequality bucket bounds PROVE the returned rows are the
      exact top-k despite probing only n_probe buckets
    - ``kmeans``: IVF probe over spherical-k-means-trained centroids
    - ``pq``:    product-quantization ADC lookup-table search (16×)
    - ``hnsw``:  per-shard navigable-small-world graph search
      (operators.hnsw — deterministic build, but graph-order dependent
      ⇒ not SQL-expressible)

    Approximate → rows-only check; recall vs brute force asserted in
    tests/test_kmeans.py, test_hnsw.py, test_vectors.py; certificate
    soundness vs brute force in test_kmeans.py. The deterministic
    seeded-expression and int8 tiers live in ann_deterministic_battery
    under the strict hash oracle. (``exact`` is NULL for the tiers that
    carry no certificate.)"""
    tiers = ann_ivf_tiers(spark, sf_dir)
    # the tiers' EAGER construction work — the kmeans fit's Lloyd
    # collects, the PQ sample collect, the adaptive tier's persisted
    # index build — is mutually independent driver-blocking work that
    # ran back-to-back; overlap it on driver threads (guide §2.6).
    # Each thunk returns a lazy DataFrame; the union's single action
    # still computes every tier's probe plan together as before.
    order = ("ivf_adaptive", "kmeans", "pq", "hnsw")
    dfs = overlap(spark, *(tiers[name] for name in order))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def ann_ivf_tiers(spark: SparkSession, sf_dir: str) -> dict:
    """The battery's four tiers as independent thunks, each carrying
    its OWN training/build work — bench.py times them separately to
    ATTRIBUTE drift per tier instead of watching one opaque total
    (round-4 verdict #4). The adaptive tier's persisted index is
    cached per sf_dir exactly as in the battery, so after the battery
    has run once its thunk measures probe cost, while kmeans/pq/hnsw
    re-run fit / codebook training / graph build on every call (those
    ARE the tier costs)."""
    from etl_sentinel_imagery_spark.operators.hnsw import (
        hnsw_build,
        hnsw_topk,
    )
    from etl_sentinel_imagery_spark.operators.kmeans import fit
    from etl_sentinel_imagery_spark.operators.similarity import (
        ivf_topk_indexed_adaptive,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = emb.filter(F.col("vec_id") < N_QUERIES)

    def tag(df: DataFrame, method: str, score_col: str) -> DataFrame:
        return df.select(
            F.lit(method).alias("method"),
            "query_id",
            "cand_id",
            F.col(score_col).alias("score"),
            "rnk",
            F.lit(None).cast("boolean").alias("exact"),
        )

    def adaptive() -> DataFrame:
        cents = _centroids(spark, sf_dir)
        index_path = _seeded_index_path(spark, sf_dir, emb)
        return ivf_topk_indexed_adaptive(
            spark, index_path, qids, cents, k=TOP_K
        ).select(
            F.lit("ivf_adaptive").alias("method"),
            "query_id",
            "cand_id",
            F.col("cos_sim").alias("score"),
            "rnk",
            "exact",
        )

    def kmeans() -> DataFrame:
        centroids, _ = fit(emb, k=N_CENTROIDS, n_iter=3)
        return tag(
            ivf_topk(emb, F.col("vec_id") < N_QUERIES, centroids, k=TOP_K),
            "kmeans", "cos_sim",
        )

    def pq() -> DataFrame:
        books = train_pq_codebooks(emb, m=8, k=16, n_iter=5)
        return tag(
            pq_topk(pq_encode(emb, books), qids, books, k=TOP_K),
            "pq", "dist",
        )

    def hnsw() -> DataFrame:
        return tag(
            hnsw_topk(emb, hnsw_build(emb), range(N_QUERIES), k=TOP_K),
            "hnsw", "cos_sim",
        )

    return {
        "ivf_adaptive": adaptive,
        "kmeans": kmeans,
        "pq": pq,
        "hnsw": hnsw,
    }


QUERIES: dict[str, Q] = {
    # round 12: restored beside the merged battery — no declared row
    # may disappear or rename (it was a round-8-to-11 registry row);
    # the ann battery ALSO carries these columns tagged method='quant'.
    "embedding_quant_battery": Q(
        _quant_battery, _QUANT_BATTERY_SQL,
        "l2 norms + int8 quantization integer stats (exact)",
    ),
    "ann_deterministic_battery": Q(
        _ann_deterministic_battery, _ANN_DETERMINISTIC_SQL,
        "deterministic similarity ground truths in one strict oracle: "
        "exact cosine top-k + threshold near-dup pairs (the sf-capped "
        "O(n²) anchors, folded from their round-5 standalone rows; "
        "scale paths = ann_ivf_battery / LSH blocking) + "
        "expression-seeded IVF + int8 brute force + the "
        "exactness-CERTIFIED adaptive-probe serving answers over a "
        "clustered twin corpus (certificate set re-derived by the "
        "oracle from pure bound arithmetic) + (round 12, absorbed "
        "embedding_quant_battery) per-vector norm / int8 / sign-bit "
        "quantization integer stats tagged method='quant'",
    ),
    "ann_ivf_battery": Q(
        _ann_ivf_battery, None,
        "approximate ANN tiers: adaptive-probe IVF serving default "
        "(exactness certificate; its CERTIFIED subset is strict-hash "
        "gated in ann_deterministic_battery) + k-means + PQ + HNSW. "
        "Rows-only BY MEASUREMENT, not taste (round-10 verdict #3): "
        "the certificate rate on this battery's raw near-isotropic "
        "corpus is 0.00 at the serving probe budget vs 1.00 on the "
        "clustered twin (pinned in tests/test_vectors.py::"
        "test_ann_ivf_battery_certificate_rate_measured) — everything "
        "that CAN certify is already hash-gated on the twin; the "
        "remainder has no exactness proof any SQL oracle could "
        "restate",
    ),
}
