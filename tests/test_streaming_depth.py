"""Streaming depth: outer-join watermark semantics, event-time-timeout
session close, and the partitioned exactly-once warehouse sink."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.streaming.sinks import (
    EpochSink,
    attach,
)
from data_engineering_project_spotify_app_spark.streaming.stateful import (
    closed_sessions,
)
from data_engineering_project_spotify_app_spark.streaming.stream_ops import (
    clicks_to_purchases_left_outer,
    stream_events,
)


def _drop(d, name, rows):
    with open(os.path.join(d, name), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _ev(i, user, etype, hh, mm, value=1.0):
    return {
        "event_id": i,
        "ts": f"2024-01-01T{hh:02d}:{mm:02d}:00.000Z",
        "user_id": user,
        "event_type": etype,
        "value": value,
        "props": "{}",
    }


def test_left_outer_join_emits_nulls_after_watermark(spark, tmp_path):
    """An unmatched purchase must emit with NULL click columns — but only
    once the watermark proves no qualifying click can still arrive."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    # user 1: click then purchase (matched); user 2: purchase, no click
    _drop(
        src,
        "b0.json",
        [
            _ev(1, 1, "click", 10, 0),
            _ev(2, 1, "purchase", 10, 10, value=42.0),
            _ev(3, 2, "purchase", 10, 5, value=7.0),
        ],
    )
    stream = stream_events(spark, src, max_files_per_trigger=10)
    joined = clicks_to_purchases_left_outer(
        stream, attribution_window="30 minutes", watermark="10 minutes"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("louter")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["purchase_id"]: r["click_id"]
            for r in spark.sql("SELECT * FROM louter").collect()
        }
        # the matched row may emit immediately; the unmatched one MUST NOT
        assert 3 not in first
        # advance event time on BOTH sides: each watermarked column has
        # its own watermark and the global one is their MIN, so a batch
        # of clicks alone leaves the purchase-side watermark (and thus
        # the global) pinned at the old horizon
        _drop(
            src,
            "b1.json",
            [_ev(9, 3, "click", 13, 0), _ev(12, 3, "purchase", 13, 0)],
        )
        time.sleep(0.1)
        q.processAllAvailable()
        rows = {
            r["purchase_id"]: r["click_id"]
            for r in spark.sql("SELECT * FROM louter").collect()
        }
        assert rows[2] == 1  # matched: attributed to the click
        assert 3 in rows and rows[3] is None  # unmatched: null-padded
    finally:
        q.stop()


def test_closed_sessions_emit_on_timeout_only(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    # user 7: two events 5 min apart → one session [10:00, 10:05]
    _drop(src, "b0.json", [_ev(1, 7, "click", 10, 0), _ev(2, 7, "click", 10, 5)])
    stream = stream_events(spark, src, max_files_per_trigger=10).withWatermark(
        "ts", "10 minutes"
    )
    sessions = closed_sessions(stream, gap_ms=30 * 60 * 1000)
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM sess").count() == 0  # still open
        # advance watermark past 10:05 + 30min gap: 14:00 - 10min wm = 13:50
        _drop(src, "b1.json", [_ev(3, 8, "click", 14, 0)])
        time.sleep(0.1)
        q.processAllAvailable()
        # timeout processing can land on the trigger after the watermark
        # advance becomes visible — push one more batch through
        _drop(src, "b2.json", [_ev(4, 8, "click", 14, 5)])
        time.sleep(0.1)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sess").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["user_id"] == 7
        assert r["session_start"].minute == 0
        assert r["session_end"].minute == 5
        assert r["n_events"] == 2
        # user 8's session is still open (watermark hasn't passed its gap)
    finally:
        q.stop()


def test_partitioned_sink_prunes_and_replays_safely(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _drop(
        src,
        "b0.json",
        [_ev(i, i % 3, "click", 10 + (i % 2), i % 50) for i in range(20)],
    )
    stream = stream_events(spark, src, max_files_per_trigger=10)
    enriched = stream.withColumn("event_hour", F.hour("ts"))
    out = str(tmp_path / "warehouse")
    q = attach(enriched, EpochSink(out, "parquet", ["event_hour"]), "psink")
    try:
        q.processAllAvailable()
        _drop(src, "b1.json", [_ev(i, 1, "click", 11, i % 50) for i in range(20, 30)])
        time.sleep(0.1)
        q.processAllAvailable()
    finally:
        q.stop()
    df = spark.read.parquet(out)
    # every row landed exactly once across epochs
    ids = sorted(r["event_id"] for r in df.select("event_id").collect())
    assert ids == list(range(30))
    # partition pruning: a filter on the partition column must prune to
    # the hour=10 directories only (partition filter, not a data filter)
    plan = (
        df.filter(F.col("event_hour") == 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(event_hour" in plan
    n10 = df.filter(F.col("event_hour") == 10).count()
    assert n10 == sum(1 for i in range(20) if 10 + (i % 2) == 10)


def test_interval_join_stream_matches_batch_twin(spark, tmp_path):
    """Stream-stream ±band join must produce exactly the pairs the batch
    bucketed interval join (q_interval_join) counts on the same log."""
    from data_engineering_project_spotify_app_spark.operators import registry
    from data_engineering_project_spotify_app_spark.streaming.stream_ops import (
        interval_join_stream,
    )

    registry.load_all_modules()
    rows = [
        _ev(1, 1, "click", 10, 0),
        _ev(2, 1, "error", 10, 3),    # within 5 min of click 1
        _ev(3, 2, "error", 10, 6),    # outside click 1's band (6 min)
        _ev(4, 2, "click", 10, 8),    # errors 3 (2 min) and 2 (5 min) match
        _ev(5, 3, "view", 10, 4),     # non-click/error: ignored
        _ev(6, 3, "error", 23, 0),    # far away: matches nothing
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    _drop(src, "b0.json", rows[:3])
    _drop(src, "b1.json", rows[3:])
    stream = stream_events(spark, src, max_files_per_trigger=1)
    q = (
        interval_join_stream(stream, stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ivj")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["click_id"], r["error_id"])
            for r in spark.sql("SELECT * FROM ivj").collect()
        }
    finally:
        q.stop()
    assert got == {(1, 2), (4, 2), (4, 3)}

    # the batch twin on the same log: per-click counts == pair rollup
    fixture = tmp_path / "fx"
    (
        spark.createDataFrame(
            [
                (
                    r["event_id"],
                    r["ts"].replace("T", " ").replace("Z", ""),
                    r["user_id"],
                    r["event_type"],
                    r["value"],
                    r["props"],
                )
                for r in rows
            ],
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        )
        .selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
            "event_type", "value", "props",
        )
        .write.mode("overwrite")
        .parquet(str(fixture / "events.parquet"))
    )
    batch = {
        (r["event_id"], r["n_nearby_errors"])
        for r in registry.QUERIES["q_interval_join"](
            spark, str(fixture)
        ).collect()
    }
    from collections import Counter

    stream_counts = Counter(c for c, _ in got)
    assert batch == {(c, n) for c, n in stream_counts.items()}


def test_chained_stateful_join_then_windowed_agg(spark, tmp_path):
    """Multiple stateful operators in ONE streaming query: the
    stream-stream interval join feeds a downstream tumbling-window
    aggregation (per-window pair counts). Append mode only emits
    windows the watermark has CLOSED — the sentinel batch advances
    event time on both sides, closing the 10:00 window; the sentinel's
    own window stays open and must NOT emit."""
    from pyspark.sql import functions as F

    from data_engineering_project_spotify_app_spark.streaming.stream_ops import (
        interval_join_stream,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _drop(
        src,
        "b0.json",
        [
            _ev(1, 1, "click", 10, 0),
            _ev(2, 1, "error", 10, 3),   # pairs with click 1 (3') + click 3 (5')
            _ev(3, 1, "click", 10, 8),
            _ev(4, 1, "error", 10, 6),   # pairs with click 3 (2'); click 1 is 6' away
        ],
    )
    _drop(src, "b1.json", [_ev(90, 1, "click", 20, 0), _ev(91, 1, "error", 20, 0)])
    now = time.time()
    os.utime(os.path.join(src, "b0.json"), (now - 20,) * 2)
    os.utime(os.path.join(src, "b1.json"), (now - 10,) * 2)
    stream = stream_events(spark, src, max_files_per_trigger=1)
    pairs = interval_join_stream(stream, stream, watermark="10 seconds")
    counts = (
        pairs.groupBy(F.window("c_ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_pairs"))
        .select(F.col("w.start").alias("ws"), "n_pairs")
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("chained")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r["ws"]): r["n_pairs"]
        for r in spark.sql("SELECT * FROM chained").collect()
    }
    assert got == {"2024-01-01 10:00:00": 3}, got


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Built-in streaming dedup: dropDuplicatesWithinWatermark keeps the
    first arrival of each event_id and suppresses re-deliveries within
    the watermark horizon — the engine-native rung below the custom
    stateful dedup twins (dedup_lines_stream / corpus_filter_stream).
    Cross-batch: the duplicate arrives in a LATER micro-batch and must
    still be suppressed, because its key is inside the state horizon."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _drop(
        src,
        "b0.json",
        [
            _ev(1, 1, "click", 10, 0),
            _ev(1, 1, "click", 10, 0),  # same-batch re-delivery
            _ev(2, 2, "view", 10, 1),
        ],
    )
    now = time.time()
    os.utime(os.path.join(src, "b0.json"), (now - 20, now - 20))
    stream = stream_events(spark, src, max_files_per_trigger=1)
    deduped = stream.withWatermark(
        "ts", "30 minutes"
    ).dropDuplicatesWithinWatermark(["event_id"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("ddww")
        .start()
    )
    try:
        q.processAllAvailable()
        # cross-batch re-delivery of event 1, plus a fresh event
        _drop(
            src,
            "b1.json",
            [_ev(1, 1, "click", 10, 0), _ev(4, 3, "view", 10, 2)],
        )
        os.utime(os.path.join(src, "b1.json"), (now - 10, now - 10))
        time.sleep(0.1)
        q.processAllAvailable()
        rows = spark.sql("SELECT event_id FROM ddww").collect()
        ids = sorted(r["event_id"] for r in rows)
        assert ids == [1, 2, 4], ids  # each id exactly once
    finally:
        q.stop()
