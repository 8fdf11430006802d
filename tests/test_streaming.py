"""Structured Streaming smoke tests: bounded parquet source → memory sink.

Each streaming query's semantics are anchored to its DuckDB-oracled batch
twin (queries.events_q); here we assert the streaming results agree with
the batch computation over the same bounded input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.sources.tables import load_table
from etl_sentinel_imagery_spark.streaming.events import (
    dedup_within_watermark,
    read_events_stream,
    run_to_memory,
    running_user_totals,
    session_aggregates,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """The raw events.parquet has NANOS timestamps the streaming reader
    can't ingest either — stage a micros copy via the batch loader."""
    out = str(tmp_path_factory.mktemp("events_stream") / "events")
    load_table(spark, SF_DIR, "events").coalesce(1).write.parquet(out)
    return out


def test_streaming_tumbling_matches_batch(spark, events_stream_dir):
    stream = tumbling_counts(read_events_stream(spark, events_stream_dir))
    got = run_to_memory(stream, "t_tumbling", "append")
    from etl_sentinel_imagery_spark.queries.events_q import _windows_battery

    # batch twin over the same input (window_start, event_type, n, total) —
    # the tumbling half of the consolidated windows battery
    batch = (
        _windows_battery(spark, SF_DIR)
        .filter("kind = 'tumbling'")
        .select("window_start", "event_type", "n_events", "total_value")
    )
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    # append-mode emits only closed windows (watermark) — a suffix of
    # windows may be withheld; everything emitted must match batch exactly
    assert g <= b
    assert len(g) >= len(b) * 0.9  # bounded source: nearly all windows close


def test_streaming_sessions_subset_of_batch(spark, events_stream_dir):
    stream = session_aggregates(read_events_stream(spark, events_stream_dir))
    got = run_to_memory(stream, "t_sessions", "append")
    from etl_sentinel_imagery_spark.queries.events_q import _sessionize

    from datetime import timedelta

    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in _sessionize(spark, SF_DIR).collect()
    }
    # session_window's end = last event + gap; the batch twin reports
    # end = max(ts) — normalize before comparing
    emitted = {
        (
            r["user_id"],
            r["session_start"],
            r["session_end"] - timedelta(minutes=30),
            r["n_events"],
        )
        for r in got.collect()
    }
    assert emitted, "no sessions emitted"
    assert emitted <= batch


def test_streaming_dedup(spark, events_stream_dir):
    stream = dedup_within_watermark(read_events_stream(spark, events_stream_dir))
    got = run_to_memory(stream, "t_dedup", "append")
    n = got.count()
    distinct_keys = got.select("user_id", "event_type").distinct().count()
    assert n == distinct_keys  # each key emitted at most once within watermark


def test_streaming_sliding_window(spark, events_stream_dir):
    from etl_sentinel_imagery_spark.streaming.events import sliding_user_activity

    stream = sliding_user_activity(read_events_stream(spark, events_stream_dir))
    got = run_to_memory(stream, "t_sliding", "append")
    rows = got.collect()
    assert rows
    # every event lands in exactly 2 windows → totals double-count
    batch_n = load_table(spark, SF_DIR, "events").count()
    emitted_n = sum(r["n_events"] for r in rows)
    assert emitted_n <= 2 * batch_n
    assert emitted_n >= 2 * batch_n * 0.9  # append mode may hold last windows


def test_streaming_foreach_batch_sink(spark, events_stream_dir, tmp_path):
    from etl_sentinel_imagery_spark.streaming.events import (
        run_foreach_batch_to_parquet,
        tumbling_counts,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = tumbling_counts(read_events_stream(spark, events_stream_dir))
    run_foreach_batch_to_parquet(stream, out, ckpt)
    sunk = spark.read.parquet(out)
    assert sunk.count() > 0
    assert "epoch_id" in sunk.columns


def test_streaming_stateful_running_totals(spark, events_stream_dir):
    stream = running_user_totals(read_events_stream(spark, events_stream_dir))
    got = run_to_memory(stream, "t_state", "update")
    rows = got.collect()
    assert rows
    # final state per user (last update) must equal the batch totals
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = {
        r["user_id"]: (r["n"], r["tv"])
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    for uid, (n, tv) in batch.items():
        assert final[uid][0] == n
        assert abs(final[uid][1] - tv) < 1e-6


def test_stream_stream_interval_join_matches_batch(spark, events_stream_dir):
    """Stream-stream join vs the identical batch join over the same
    input: every emitted (purchase, click) pair must match, and for
    pairs whose event-time is safely inside the watermark horizon the
    streaming result must be complete."""
    from etl_sentinel_imagery_spark.streaming.events import (
        purchases_with_recent_click,
    )

    stream = purchases_with_recent_click(
        read_events_stream(spark, events_stream_dir)
    )
    got = {
        (r["purchase_id"], r["click_id"])
        for r in run_to_memory(stream, "t_ssjoin", "append").collect()
    }

    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = {
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") > F.col("purchase_ts") - F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert got <= batch
    assert len(got) >= len(batch) * 0.9  # bounded source: nearly all emitted
    assert batch, "fixture has no purchase-after-click pairs"


def test_streaming_dedup_state_expires_after_watermark(spark, tmp_path):
    """State TTL semantics: a duplicate key REAPPEARING after the
    watermark has passed its first occurrence is emitted again (state
    was dropped — bounded memory), while a duplicate within the
    watermark window is suppressed."""
    import datetime as dt

    from etl_sentinel_imagery_spark.streaming.events import (
        dedup_within_watermark,
        run_to_memory,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, minutes, uid, etype):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, etype, 1.0, "{}")

    rows = [
        ev(1, 0, 1, "click"),     # first occurrence
        ev(2, 5, 1, "click"),     # dup INSIDE watermark (10 min) → dropped
        ev(3, 60, 1, "click"),    # same key, 1 h later → state expired, emitted
        ev(4, 61, 2, "view"),     # advance watermark far past t0
        ev(5, 62, 1, "click"),    # dup of the re-emitted key → dropped
        ev(6, 120, 9, "flush"),   # push watermark so earlier windows close
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).coalesce(1).write.parquet(src)

    stream = dedup_within_watermark(
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        ).format("parquet").load(src)
    )
    got = sorted(
        r["event_id"] for r in run_to_memory(stream, "t_ttl", "append").collect()
    )
    # one micro-batch ingests the whole bounded file, so watermark
    # advancement happens across batch boundaries — with a single batch
    # Spark dedups all same-key rows. Accept either the strict-TTL
    # emission {1,3,4,6} (multi-batch) or the single-batch {1,4,6},
    # but event 2 and 5 (inside-watermark dups) must NEVER appear.
    assert 2 not in got and 5 not in got
    assert {1, 4, 6} <= set(got)


def test_streaming_upsert_sink_latest_per_key(spark, tmp_path):
    """Update-mode per-user aggregates upserted into a keyed parquet
    table: the final table must equal the batch groupBy exactly (one row
    per user, latest totals) — no appended history."""
    from etl_sentinel_imagery_spark.streaming.events import (
        WATERMARK,
        run_foreach_batch_upsert,
    )

    # multi-file source + maxFilesPerTrigger=1 → several micro-batches,
    # so the MERGE branch (not just the first-epoch write) is exercised
    multi = str(tmp_path / "events_multi")
    load_table(spark, SF_DIR, "events").repartition(4).write.parquet(multi)
    events = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(multi)
    )
    agg = (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
        )
    )
    out = str(tmp_path / "upsert_table")
    ckpt = str(tmp_path / "upsert_ckpt")
    run_foreach_batch_upsert(agg, ["user_id"], out, ckpt)

    got = {
        r["user_id"]: (r["n_events"], r["total"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("tv"),
        )
        .collect()
    }
    assert got == want


def test_stream_static_enrichment_matches_batch(spark, events_stream_dir):
    """Stream-static broadcast join: streamed events enriched with a
    static user dimension must equal the identical batch join, and the
    static side must not block unbounded processing (no watermark
    required for stream-static)."""
    from etl_sentinel_imagery_spark.streaming.events import enrich_with_dimension

    events_batch = spark.read.parquet(events_stream_dir)
    dim = (
        events_batch.select("user_id")
        .distinct()
        .withColumn("user_tier", F.when(F.col("user_id") % 3 == 0, "gold").otherwise("std"))
    )
    stream = read_events_stream(spark, events_stream_dir)
    out = run_to_memory(
        enrich_with_dimension(stream, dim).select(
            "event_id", "user_id", "user_tier"
        ),
        "enriched_mem",
        "append",
    )
    got = {(r["event_id"], r["user_tier"]) for r in out.collect()}
    want = {
        (r["event_id"], r["user_tier"])
        for r in events_batch.join(F.broadcast(dim), "user_id", "left")
        .select("event_id", "user_tier")
        .collect()
    }
    assert got == want and got


def test_stream_stream_left_outer_join_emits_matchless(spark, tmp_path):
    """Left-outer stream-stream join: a purchase with no click in its
    window emits with NULL click columns — but only after the watermark
    passes its join horizon (the decidability contract)."""
    from etl_sentinel_imagery_spark.streaming.events import (
        purchases_with_recent_click,
        run_to_memory,
    )

    src = str(tmp_path / "ev")
    schema = (
        "event_id bigint, user_id bigint, secs bigint, "
        "event_type string, value double"
    )
    base = 1_700_000_000
    batches = [
        # user 1: click then purchase 5 min later → matched pair
        # user 2: purchase with NO click → must still emit
        [
            (1, 1, base, "click", 0.0),
            (2, 1, base + 300, "purchase", 9.5),
            (3, 2, base + 300, "purchase", 4.5),
        ],
        # far-future events on BOTH sides: the query watermark is the
        # MIN across watermark nodes, so a click-only flush would leave
        # the purchase-side watermark (and the outer decision) stuck
        [
            (4, 9, base + 40_000, "click", 0.0),
            (5, 9, base + 40_000, "purchase", 0.0),
        ],
        [
            (6, 9, base + 80_000, "click", 0.0),
            (7, 9, base + 80_000, "purchase", 0.0),
        ],
    ]
    q = None
    try:
        for rows in batches:
            df = spark.createDataFrame(rows, schema).select(
                "event_id", "user_id",
                F.timestamp_seconds("secs").alias("ts"),
                "event_type", "value",
            )
            df.coalesce(1).write.mode("append").parquet(src)
            if q is None:
                stream = spark.readStream.schema(
                    spark.read.parquet(src).schema
                ).parquet(src)
                joined = purchases_with_recent_click(
                    stream, how="left_outer"
                )
                q = (
                    joined.writeStream.format("memory")
                    .queryName("t_ssjoin_outer")
                    .outputMode("append")
                    .option("checkpointLocation", str(tmp_path / "ck"))
                    .start()
                )
            q.processAllAvailable()
        rows = spark.sql("SELECT * FROM t_ssjoin_outer").collect()
    finally:
        if q is not None:
            q.stop()
    by_purchase = {r["purchase_id"]: r for r in rows}
    # flush purchases may or may not have finalized; 2 and 3 must have
    assert {2, 3} <= set(by_purchase)
    assert by_purchase[2]["click_id"] == 1
    assert by_purchase[3]["click_id"] is None  # matchless, NULL-padded
    assert by_purchase[3]["value"] == 4.5


def test_streaming_txlog_sink_exactly_once(spark, events_stream_dir, tmp_path):
    """Streaming appends into a transactional table: row set equals the
    batch input, each epoch is one committed version, and RE-RUNNING the
    whole stream (fresh checkpoint, same epochs) leaves the table
    unchanged — the epoch tag in the log does the exactly-once work."""
    from etl_sentinel_imagery_spark.operators.txlog import history, snapshot
    from etl_sentinel_imagery_spark.streaming.events import (
        read_events_stream,
        run_foreach_batch_to_txlog,
    )

    table = str(tmp_path / "txtable")
    run_foreach_batch_to_txlog(
        read_events_stream(spark, events_stream_dir),
        table,
        str(tmp_path / "ckpt1"),
    )
    batch_n = load_table(spark, SF_DIR, "events").count()
    assert snapshot(spark, table).count() == batch_n
    ops = [h["op"] for h in history(table)]
    assert ops[0] == "init"
    assert all(op.startswith("stream_epoch_") for op in ops[1:])
    v_before = len(ops)

    # full replay with a FRESH checkpoint re-delivers every epoch: the
    # log's epoch tags must swallow the duplicates
    run_foreach_batch_to_txlog(
        read_events_stream(spark, events_stream_dir),
        table,
        str(tmp_path / "ckpt2"),
    )
    assert snapshot(spark, table).count() == batch_n
    assert len(history(table)) == v_before
