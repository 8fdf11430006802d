"""Incremental near-dup dedup of new batches against a PERSISTED index.

The daily-ingest deployment of MinHash-LSH: a 100 TB corpus is deduped
once (``operators.dedup``), its band table and signatures persist, and
every subsequent batch — hours of crawl, not the whole corpus — dedups
against that index WITHOUT recomputing a single signature of the
existing corpus. Its state is a plain parquet layout, so any engine
(and the transaction log) can own it.

Index layout under ``index_dir``::

    bands/   (doc, band_idx, band_key)   partitioned by band_idx
    sigs/    (doc, sig array<long>)
    meta.json  {n_perm, band_size}

Probe shape at 100 TB: the new batch's band keys are BROADCAST into a
semi-join that filters the index scan down to matching buckets only —
the index is never shuffled, never self-joined, and bucket sizes are
counted on that filtered subset (bounded by the batch's collision
fan-out, not the corpus). Candidate verification uses SIGNATURE
AGREEMENT (matching minhash positions / n_perm — the unbiased Jaccard
estimator), so the existing corpus's TEXT is never re-read; the
whole probe touches index bytes proportional to the batch, not the
corpus. Appends are plain parquet appends of the surviving batch's
rows — ``build == build + append`` bit-for-bit (tested).

Within-batch duplicates are resolved first by ``dedup_clusters`` (the
batch is batch-sized — the full machinery is affordable); only batch
canonicals probe the index.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.operators.dedup import (
    BAND_SIZE,
    MAX_BUCKET,
    N_PERM,
    dedup_clusters,
    minhash_signature,
)


def _sig_table(
    docs: DataFrame, id_col: str, text_col: str, n_perm: int
) -> DataFrame:
    par = docs.sparkSession.sparkContext.defaultParallelism
    # ONE exchange (round 12): the repartition below spreads the
    # CPU-bound hashing; the doc-keyed second exchange
    # minhash_lsh_pairs needs as a materialization barrier is redundant
    # HERE because both consumers provide their own barrier — the
    # index build writes sigs to parquet before banding, and the probe
    # path localCheckpoints the table before any reuse.
    return docs.repartition(par).select(
        F.col(id_col).alias("doc"),
        minhash_signature(text_col, n_perm).alias("sig"),
    )


def _band_table(sigs: DataFrame, n_perm: int, band_size: int) -> DataFrame:
    n_bands = n_perm // band_size
    return sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat_ws(
                            "_",
                            *[
                                F.element_at("sig", b * band_size + i + 1)
                                for i in range(band_size)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc", "band.band_idx", "band.band_key")


def build_signature_index(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = N_PERM,
    band_size: int = BAND_SIZE,
) -> None:
    """Persist the corpus's LSH index (one signature pass, no joins)."""
    sigs = _sig_table(docs, id_col, text_col, n_perm)
    sigs.write.mode("overwrite").parquet(f"{index_dir}/sigs")
    spark = docs.sparkSession
    written = spark.read.parquet(f"{index_dir}/sigs")
    _band_table(written, n_perm, band_size).write.mode(
        "overwrite"
    ).partitionBy("band_idx").parquet(f"{index_dir}/bands")
    with open(os.path.join(index_dir, "meta.json"), "w") as fh:
        json.dump({"n_perm": n_perm, "band_size": band_size}, fh)


def _load_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "meta.json")) as fh:
        return json.load(fh)


def incremental_dedup(
    new_docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int | None = MAX_BUCKET,
    append: bool = True,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Classify a new batch against the persisted index.

    Returns ``(id_col, status, dup_of)`` for every new doc:

    - ``'exists'`` — signature agreement ≥ ``threshold`` with an
      indexed doc (``dup_of`` = smallest matching existing id);
    - ``'batch_dup'`` — a within-batch non-canonical (``dup_of`` = the
      batch canonical's id);
    - ``'new'`` — survives (and, with ``append=True``, its signature
      and band rows are appended to the index before returning).

    With ``append=True`` the returned DataFrame is computed EAGERLY
    (localCheckpoint) so the append can't race the classification that
    decided it; a read-only call (``append=False``) returns the lazy
    plan and computes with the caller's action (round 13 — one fewer
    serial job wave, and deterministic on replay since nothing
    mutates).

    ``sigs``: optional pre-MATERIALIZED ``(doc, sig)`` signature table
    of the batch (``_sig_table(new_docs, id_col, text_col, n_perm)``,
    already checkpointed) — a caller that overlaps the index build
    with the batch's signature pass (guide §2.6) hands the result in
    so it is not recomputed. Ignored (recomputed internally) when the
    index's ``n_perm`` differs from the module default the caller
    would have used.
    """
    spark: SparkSession = new_docs.sparkSession
    meta = _load_meta(index_dir)
    n_perm, band_size = meta["n_perm"], meta["band_size"]

    # the batch's signature table feeds the within-batch LSH, the band
    # probe (bands → canon_bands → cand, itself referenced twice) AND
    # the agreement verification join — without a barrier the
    # CPU-bound MinHash pipeline re-ran per consumer (round 12).
    # Batch-sized, so one eager checkpoint is cheap by construction;
    # dedup_clusters reuses it via its sigs parameter instead of
    # recomputing its own.
    if sigs is None or n_perm != N_PERM:
        sigs = _sig_table(
            new_docs, id_col, text_col, n_perm
        ).localCheckpoint(eager=True)
    else:
        # round-12 ADVICE #3: a caller-passed sigs table of the WRONG
        # signature width against a default-n_perm index would be
        # silently banded and verified with foreign-width arrays
        # (wrong agreement scores). Validate every row inline — a
        # per-row size() on an n_perm-element array costs nothing and
        # adds no job, unlike a .first() probe.
        sigs = sigs.withColumn(
            "sig",
            F.when(F.size("sig") == n_perm, F.col("sig")).otherwise(
                F.raise_error(
                    F.format_string(
                        "incremental_dedup: passed sigs width %s != "
                        f"index n_perm {n_perm}",
                        F.size("sig"),
                    )
                )
            ),
        )
    # 1. within-batch dedup — batch-sized, full machinery. The shared
    # sigs are only valid for the clusterer when the index's layout
    # matches dedup_clusters' defaults (a custom n_perm/band_size
    # index must not band foreign-width signature arrays).
    share = n_perm == N_PERM and band_size == BAND_SIZE
    clusters = dedup_clusters(
        new_docs,
        id_col,
        text_col,
        threshold=threshold,
        sigs=sigs if share else None,
    ).select(
        F.col("id").alias("doc"),
        "is_canonical",
        F.col("canonical_id").alias("batch_canonical"),
    )
    bands = _band_table(sigs, n_perm, band_size)
    canon_bands = bands.join(
        clusters.filter("is_canonical").select("doc"), "doc", "left_semi"
    )

    # 2. probe: broadcast the batch's band keys into a semi-join so the
    # index scan keeps only matching buckets — the index is never
    # shuffled wholesale and bucket counting runs on the filtered
    # subset (the mega-bucket guard still applies: a boilerplate bucket
    # bigger than max_bucket is the exact-dedup tier's job)
    index_bands = spark.read.parquet(f"{index_dir}/bands")
    probe_keys = canon_bands.select("band_idx", "band_key").distinct()
    hit = index_bands.join(
        F.broadcast(probe_keys), ["band_idx", "band_key"], "left_semi"
    )
    # DISTINCT rows first: a crash-replayed append may leave duplicate
    # band rows (see the append ordering below) and the guard must not
    # spuriously trip on them; candidates are .distinct()-ed anyway, so
    # the dedup is result-neutral with or without the guard.
    hit = hit.select("band_idx", "band_key", "doc").distinct()
    if max_bucket is not None:
        # single-pass guard (round 12): the old shape aggregated
        # bucket sizes into a SECOND broadcast and semi-joined the hit
        # rows against it — one more index scan and one more
        # broadcast-build job per probe. A count window over the same
        # filtered subset computes the identical per-bucket size
        # in-line; the subset is bounded by the batch's collision
        # fan-out, and the sort-window spills if a boilerplate bucket
        # is huge (the rows it counts are exactly the rows the old
        # groupBy counted).
        from pyspark.sql import Window

        w = Window.partitionBy("band_idx", "band_key")
        hit = (
            hit.withColumn("bucket_n", F.count(F.lit(1)).over(w))
            .filter(F.col("bucket_n") <= max_bucket)
            .drop("bucket_n")
        )
    cand = (
        canon_bands.join(
            hit.select(
                "band_idx", "band_key", F.col("doc").alias("old_doc")
            ),
            ["band_idx", "band_key"],
        )
        # self-matches excluded: a REPLAYED batch (crash between append
        # and downstream commit) finds its own docs in the index and
        # must still classify them exactly as the first run did —
        # replay-idempotence is what lets the streaming runner use this
        # index as its only state
        .filter(F.col("doc") != F.col("old_doc"))
        .select(F.col("doc").alias("new_doc"), "old_doc")
        .distinct()
    )

    # 3. verify by signature agreement — old TEXT is never read. The
    # batch-sized candidate set (pairs + the new doc's signature) is
    # broadcast ONCE into the index-sigs join (round 13): the old
    # shape referenced `cand` twice — a broadcast semi-join build of
    # its old-doc ids AND the matches join — so the whole probe
    # subtree (index scan + bucket-guard window included) evaluated
    # twice per run. One broadcast prunes the index scan exactly like
    # the semi-join did, with the probe chain computed once.
    cand_sig = cand.join(
        sigs.select(F.col("doc").alias("new_doc"), "sig"), "new_doc"
    )
    old_sigs = spark.read.parquet(f"{index_dir}/sigs").select(
        F.col("doc").alias("old_doc"), F.col("sig").alias("old_sig")
    )
    matches = (
        old_sigs.join(F.broadcast(cand_sig), "old_doc")
        .withColumn(
            "agreement",
            F.aggregate(
                F.zip_with(
                    F.col("sig"),
                    F.col("old_sig"),
                    lambda a, b: (a == b).cast("int"),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.lit(float(n_perm)),
        )
        .filter(F.col("agreement") >= threshold)
        .groupBy("new_doc")
        .agg(F.min("old_doc").alias("dup_of_existing"))
    )

    status = (
        clusters.join(
            matches.withColumnRenamed("new_doc", "doc"), "doc", "left"
        )
        .select(
            F.col("doc").alias(id_col),
            F.when(~F.col("is_canonical"), F.lit("batch_dup"))
            .when(
                F.col("dup_of_existing").isNotNull(), F.lit("exists")
            )
            .otherwise(F.lit("new"))
            .alias("status"),
            F.when(~F.col("is_canonical"), F.col("batch_canonical"))
            .otherwise(F.col("dup_of_existing"))
            .alias("dup_of"),
        )
    )
    # the eager barrier exists so the APPEND below can't race the
    # classification that decided it (and so the survivor set is
    # pinned across the two index writes). A read-only call has no
    # race and one downstream consumer — skipping the checkpoint
    # lets the probe/verify plan ride the caller's own action, where
    # it overlaps with whatever else that action computes (round 13,
    # guide §2.6; the classify battery's langid leg runs concurrently
    # with it).
    if append:
        status = status.localCheckpoint()
        survivors = status.filter("status = 'new'").select(
            F.col(id_col).alias("doc")
        )
        # idempotent append: anti-join against ids already indexed, so
        # a replayed batch re-appends nothing (the doc-only projection
        # column-prunes the index scan). The anti-join KEYS ON sigs/,
        # so sigs/ must be written LAST (ADVICE r4): bands/ first, then
        # sigs/ — a crash between the two leaves docs in bands/ but not
        # sigs/, and the replay (sigs-keyed check says "missing")
        # repairs BOTH tables. The repair re-appends band rows a
        # bands-then-crash run already wrote; duplicates there are
        # harmless by construction (candidates are .distinct()-ed and
        # the bucket guard counts DISTINCT docs). The reverse order —
        # the pre-fix bug — left docs probe-invisible forever: sigs/
        # present made the replay compute an empty delta, so bands/
        # was never repaired. localCheckpoint pins ONE survivor set
        # across both writes (recomputation can't diverge mid-pair).
        new_sigs = (
            sigs.join(survivors, "doc", "left_semi")
            .join(
                spark.read.parquet(f"{index_dir}/sigs").select("doc"),
                "doc",
                "left_anti",
            )
            .localCheckpoint()
        )
        _band_table(new_sigs, n_perm, band_size).write.mode(
            "append"
        ).partitionBy("band_idx").parquet(f"{index_dir}/bands")
        new_sigs.write.mode("append").parquet(f"{index_dir}/sigs")
    return status
