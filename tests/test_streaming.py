"""Streaming smoke tests (SURVEY.md §5.5): file-drop → streaming query →
results match the batch twin on the same rows."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.streaming.stream_ops import (
    dedup_stream,
    run_to_memory_sink,
    sessionized,
    stage_watch,
    stream_events,
    tumbling_counts,
)
from tests.spotify_fixtures import artist


def _drop_events(tmp_path, rows):
    d = tmp_path / "events_stream"
    d.mkdir(parents=True, exist_ok=True)
    with open(d / "batch0.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    return str(d)


_ROWS = [
    {
        "event_id": i,
        "ts": f"2024-01-01T00:{i % 50:02d}:00.000Z",
        "user_id": i % 3,
        "event_type": ["click", "view"][i % 2],
        "value": float(i),
        "props": "{}",
    }
    for i in range(40)
]


def test_tumbling_counts_matches_batch_twin(spark, tmp_path):
    path = _drop_events(tmp_path, _ROWS)
    stream = stream_events(spark, path)
    assert stream.isStreaming
    run_to_memory_sink(
        tumbling_counts(stream), "t_tumbling", output_mode="complete"
    )
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }

    batch = (
        spark.read.schema(stream.schema).json(path)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )
    want = {
        (str(r["w"]["start"]), r["event_type"]): (r["n"], r["v"])
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_sessionized_stream(spark, tmp_path):
    path = _drop_events(tmp_path, _ROWS)
    run_to_memory_sink(
        sessionized(stream_events(spark, path), gap="5 minutes"),
        "t_sessions",
        output_mode="complete",
    )
    rows = spark.sql("SELECT * FROM t_sessions").collect()
    assert len(rows) > 0
    assert sum(r["n_events"] for r in rows) == len(_ROWS)


def test_dedup_stream_drops_duplicate_ids(spark, tmp_path):
    dup_rows = _ROWS + _ROWS[:10]  # 10 duplicate event_ids
    path = _drop_events(tmp_path, dup_rows)
    run_to_memory_sink(dedup_stream(stream_events(spark, path)), "t_dedup")
    n = spark.sql("SELECT count(DISTINCT event_id) AS n FROM t_dedup").first()["n"]
    total = spark.sql("SELECT count(*) AS n FROM t_dedup").first()["n"]
    assert n == total == len(_ROWS)


def test_stage_watch_streams_entity_folder(spark, tmp_path):
    d = tmp_path / "staging" / "artists"
    d.mkdir(parents=True)
    with open(d / "p0.json", "w") as fh:
        for i in range(7):
            fh.write(json.dumps(artist(i)) + "\n")
    clean, _ = stage_watch(spark, str(tmp_path / "staging"), "artists")
    run_to_memory_sink(clean, "t_stage")
    assert spark.sql("SELECT count(*) AS n FROM t_stage").first()["n"] == 7


def test_stage_watch_quarantines_bad_lines(spark, tmp_path):
    """A truncated line and an un-castable one go whole to the
    quarantine frame; only the good row reaches the clean sink."""
    d = tmp_path / "staging" / "artists"
    d.mkdir(parents=True)
    truncated = json.dumps(artist(2))[:40]
    uncastable = json.dumps(artist(3, popularity="not-a-number"))
    with open(d / "p0.json", "w") as fh:
        fh.write(json.dumps(artist(1)) + "\n")
        fh.write(truncated + "\n")
        fh.write(uncastable + "\n")
    clean, bad = stage_watch(spark, str(tmp_path / "staging"), "artists")
    run_to_memory_sink(clean, "t_stage_clean")
    run_to_memory_sink(bad, "t_stage_bad")
    got = spark.sql(
        "SELECT id, name, popularity, genres FROM t_stage_clean"
    )
    assert [tuple(r) for r in got.collect()] == [
        ("ar001", "Artist 1", 17, ["genre1", "genre3"])
    ]
    bad_rows = spark.sql("SELECT raw FROM t_stage_bad").collect()
    assert sorted(r["raw"] for r in bad_rows) == sorted(
        [truncated, uncastable]
    )


def test_stream_stream_attribution_join(spark, tmp_path):
    """Purchases join prior same-user clicks within the window — and the
    streaming result equals the equivalent batch join."""
    from data_engineering_project_spotify_app_spark.streaming.stream_ops import (
        clicks_to_purchases_join,
    )

    rows = []
    for i in range(30):
        rows.append(
            {
                "event_id": i,
                "ts": f"2024-01-01T00:{i:02d}:00.000Z",
                "user_id": i % 3,
                "event_type": "click" if i % 2 == 0 else "purchase",
                "value": float(i),
                "props": "{}",
            }
        )
    path = _drop_events(tmp_path, rows)
    stream = stream_events(spark, path)
    run_to_memory_sink(
        clicks_to_purchases_join(stream, attribution_window="10 minutes"),
        "t_attr",
    )
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM t_attr").collect()
    }

    batch = spark.read.schema(stream.schema).json(path)
    import pyspark.sql.functions as F

    c = batch.filter(F.col("event_type") == "click").selectExpr(
        "user_id AS c_user", "event_id AS click_id", "ts AS click_ts"
    )
    p = batch.filter(F.col("event_type") == "purchase").selectExpr(
        "user_id AS p_user", "event_id AS purchase_id", "ts AS purchase_ts"
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            F.expr(
                "p_user = c_user AND click_ts <= purchase_ts "
                "AND click_ts >= purchase_ts - INTERVAL 10 minutes"
            ),
        ).collect()
    }
    assert got == want and len(got) > 0
