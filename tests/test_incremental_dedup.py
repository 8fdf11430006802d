from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.operators.incremental_dedup import (
    build_signature_index,
    incremental_dedup,
)

BASE = (
    "the quick brown fox jumps over a lazy dog while the calm river "
    "flows past ancient stone bridges toward distant mountain valleys "
    "under a pale morning sky full of wheeling swallows and soft light"
)
OTHER = (
    "completely different prose describing glacier fed lakes and the "
    "migration patterns of arctic terns across polar archipelagos in "
    "late summer when the midnight sun refuses to set over the water"
)
THIRD = (
    "an unrelated technical report on the thermal properties of "
    "sintered ceramics measured across repeated kiln firings with "
    "varying feldspar ratios and controlled cooling gradient schedules"
)


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, OTHER)], ["doc_id", "text"]
    )


def test_incremental_classification_and_append(spark, corpus, tmp_path):
    idx = str(tmp_path / "lsh_index")
    build_signature_index(corpus, idx)

    batch = spark.createDataFrame(
        [
            (10, BASE),  # exact copy of indexed doc 1 → exists
            # near-dup of 1 AND of batch-mate 10: the batch cluster
            # resolves first, so it dies as 10's batch_dup
            (11, BASE.replace("dog", "cat")),
            (12, THIRD),  # genuinely new → appended
            (13, THIRD),  # within-batch copy of 12 → batch_dup
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup(batch, idx, threshold=0.5).collect()
    }
    assert out[10] == ("exists", 1)
    assert out[11] == ("batch_dup", 10)
    assert out[12] == ("new", None)
    assert out[13] == ("batch_dup", 12)

    # only the survivor was appended
    docs_in_index = {
        r["doc"] for r in spark.read.parquet(f"{idx}/sigs").collect()
    }
    assert docs_in_index == {1, 2, 12}

    # a SECOND batch now dedups against the appended doc too
    batch2 = spark.createDataFrame(
        [(20, THIRD), (21, "tiny unique fragment")], ["doc_id", "text"]
    )
    out2 = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup(batch2, idx, threshold=0.5).collect()
    }
    assert out2[20] == ("exists", 12)
    assert out2[21][0] == "new"


def test_append_equals_rebuild(spark, corpus, tmp_path):
    """build(corpus) + incremental(batch) == build(corpus ∪ survivors):
    identical sigs and bands row sets, bit for bit."""
    idx_a = str(tmp_path / "a")
    idx_b = str(tmp_path / "b")
    build_signature_index(corpus, idx_a)
    batch = spark.createDataFrame([(12, THIRD)], ["doc_id", "text"])
    incremental_dedup(batch, idx_a, threshold=0.5)

    build_signature_index(corpus.union(batch), idx_b)
    for sub in ["sigs", "bands"]:
        a = sorted(
            map(tuple, spark.read.parquet(f"{idx_a}/{sub}").collect())
        )
        b = sorted(
            map(tuple, spark.read.parquet(f"{idx_b}/{sub}").collect())
        )
        assert a == b, sub


def test_mega_bucket_guard_skips_boilerplate(spark, tmp_path):
    """An index bucket above max_bucket is skipped (the exact-dedup
    tier's job): the probe classifies the colliding doc as new."""
    boiler = [(i, BASE) for i in range(1, 8)]
    build_signature_index(
        spark.createDataFrame(boiler, ["doc_id", "text"]),
        str(tmp_path / "idx"),
    )
    batch = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    out = incremental_dedup(
        batch, str(tmp_path / "idx"), threshold=0.5, max_bucket=3
    ).collect()
    assert out[0]["status"] == "new"
    # and with the guard off it is found
    out2 = incremental_dedup(
        batch, str(tmp_path / "idx"), threshold=0.5, max_bucket=None,
        append=False,
    ).collect()
    assert out2[0]["status"] == "exists" and out2[0]["dup_of"] == 1


def test_replayed_batch_is_idempotent(spark, corpus, tmp_path):
    """Replaying the same batch (crash-recovery shape) classifies
    identically and appends nothing twice."""
    idx = str(tmp_path / "idx2")
    build_signature_index(corpus, idx)
    batch = spark.createDataFrame(
        [(30, THIRD), (31, BASE)], ["doc_id", "text"]
    )
    first = sorted(
        map(tuple, incremental_dedup(batch, idx, threshold=0.5).collect())
    )
    replay = sorted(
        map(tuple, incremental_dedup(batch, idx, threshold=0.5).collect())
    )
    assert first == replay
    sigs = spark.read.parquet(f"{idx}/sigs")
    assert sigs.count() == sigs.select("doc").distinct().count() == 3


def test_crash_between_band_and_sig_append_repairs(spark, corpus, tmp_path):
    """Crash-ordering contract (ADVICE r4): bands/ writes FIRST, the
    idempotence anti-join keys on last-written sigs/. A crash between
    the two leaves docs in bands/ but not sigs/; the REPLAY must
    repair both tables (pre-fix, the sigs-first order made the replay
    compute an empty delta and the crashed doc silently stopped being
    discoverable). Duplicate band rows from the repair are harmless:
    candidates are distinct-ed and the bucket guard counts docs."""
    from etl_sentinel_imagery_spark.operators.incremental_dedup import (
        _band_table,
        _load_meta,
        _sig_table,
    )

    idx = str(tmp_path / "crash_idx")
    build_signature_index(corpus, idx)
    meta = _load_meta(idx)
    batch = spark.createDataFrame([(40, THIRD)], ["doc_id", "text"])

    # simulate the crash state a bands-then-crash run leaves: the
    # batch's band rows landed, its sig rows did not
    sigs40 = _sig_table(batch, "doc_id", "text", meta["n_perm"])
    _band_table(sigs40, meta["n_perm"], meta["band_size"]).write.mode(
        "append"
    ).partitionBy("band_idx").parquet(f"{idx}/bands")
    assert (
        spark.read.parquet(f"{idx}/sigs").filter("doc = 40").count() == 0
    )

    # replay: classification unchanged, BOTH tables repaired
    out = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup(batch, idx, threshold=0.5).collect()
    }
    assert out[40] == ("new", None)
    assert (
        spark.read.parquet(f"{idx}/sigs").filter("doc = 40").count() == 1
    )
    # doc 40 is discoverable through the bands probe path despite the
    # duplicated band rows: a near-dup of it classifies as exists
    probe = spark.createDataFrame(
        [(41, THIRD.replace("kiln", "oven"))], ["doc_id", "text"]
    )
    out2 = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup(
            probe, idx, threshold=0.5, append=False
        ).collect()
    }
    assert out2[41] == ("exists", 40)
    # a fully-successful second replay appends nothing more
    incremental_dedup(batch, idx, threshold=0.5)
    sigs = spark.read.parquet(f"{idx}/sigs")
    assert sigs.filter("doc = 40").count() == 1


def test_shared_sigs_param_identical_and_mismatch_ignored(
    spark, corpus, tmp_path
):
    """Round 12: a caller that overlaps the index build with the
    batch's signature pass hands the materialized signatures in via
    ``sigs``. (a) A matching shared table yields classifications
    identical to the recompute path; (b) when the index was built
    with a DIFFERENT n_perm, the passed default-width table is
    IGNORED (recomputed internally) — foreign-width signature arrays
    must never be banded."""
    from etl_sentinel_imagery_spark.operators.dedup import N_PERM
    from etl_sentinel_imagery_spark.operators.incremental_dedup import (
        _sig_table,
    )

    batch = spark.createDataFrame(
        [
            (10, BASE.replace("fox", "wolf")),
            (11, THIRD),
        ],
        ["doc_id", "text"],
    )

    idx = str(tmp_path / "idx_default")
    build_signature_index(corpus, idx)
    want = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup(
            batch, idx, threshold=0.5, append=False
        ).collect()
    }
    shared = _sig_table(batch, "doc_id", "text", N_PERM).localCheckpoint(
        eager=True
    )
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup(
            batch, idx, threshold=0.5, append=False, sigs=shared
        ).collect()
    }
    assert got == want
    assert got[10] == ("exists", 1)

    # custom-n_perm index: the default-width shared table must be
    # ignored, and the classification must match the recompute path
    idx4 = str(tmp_path / "idx_n4")
    build_signature_index(corpus, idx4, n_perm=4)
    want4 = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup(
            batch, idx4, threshold=0.5, append=False
        ).collect()
    }
    got4 = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup(
            batch, idx4, threshold=0.5, append=False, sigs=shared
        ).collect()
    }
    assert got4 == want4


def test_foreign_width_sigs_rejected(spark, corpus, tmp_path):
    """Round-12 ADVICE #3: a caller-passed sigs table whose signature
    width differs from the index's n_perm must raise, not be silently
    banded with foreign-width arrays."""
    from etl_sentinel_imagery_spark.operators.incremental_dedup import (
        _sig_table,
    )

    idx = str(tmp_path / "lsh_index")
    build_signature_index(corpus, idx)  # default n_perm
    batch = spark.createDataFrame([(10, BASE)], ["doc_id", "text"])
    # truncate the signature arrays to a foreign width
    bad = (
        _sig_table(batch, "doc_id", "text", 8)
        .withColumn("sig", F.slice("sig", 1, 4))
        .localCheckpoint(eager=True)
    )
    with pytest.raises(Exception, match="sigs width"):
        incremental_dedup(
            batch, idx, append=False, sigs=bad
        ).collect()
