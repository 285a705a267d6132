"""Exactly-once foreachBatch sink: no duplicates, replay-safe."""

from __future__ import annotations

import json
import os
import time

from data_engineering_project_spotify_app_spark.streaming.sinks import (
    EpochSink,
    attach,
)
from data_engineering_project_spotify_app_spark.streaming.stream_ops import (
    stream_events,
)


def _drop(d, name, rows):
    with open(os.path.join(d, name), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _ev(i):
    return {
        "event_id": i,
        "ts": f"2024-01-01T00:{i % 60:02d}:00.000Z",
        "user_id": i % 3,
        "event_type": "click",
        "value": float(i),
        "props": "{}",
    }


def _read_all(spark, out_dir, schema):
    return spark.read.schema(schema).json(f"{out_dir}/epoch=*")


def test_every_row_lands_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _drop(src, "b0.json", [_ev(i) for i in range(10)])
    stream = stream_events(spark, src, max_files_per_trigger=1)
    out = str(tmp_path / "out")
    q = attach(stream, EpochSink(out), "eo1")
    try:
        q.processAllAvailable()
        _drop(src, "b1.json", [_ev(i) for i in range(10, 25)])
        time.sleep(0.1)
        q.processAllAvailable()
    finally:
        q.stop()
    got = _read_all(spark, out, stream.schema)
    ids = sorted(r["event_id"] for r in got.select("event_id").collect())
    assert ids == list(range(25))
    sink = EpochSink(out)
    assert len(sink.committed_epochs()) >= 2


def test_replayed_epoch_is_skipped(spark, tmp_path):
    """Simulate an epoch retry: calling the sink twice with the same
    epoch id must not duplicate rows."""
    sink = EpochSink(str(tmp_path / "out"))
    df = spark.range(5).selectExpr("id AS event_id")
    sink(df, epoch_id=0)
    sink(df, epoch_id=0)  # replay after "failure"
    got = spark.read.json(str(tmp_path / "out" / "epoch=0"))
    assert got.count() == 5
    assert sink.committed_epochs() == [0]


def test_uncommitted_epoch_is_overwritten_on_retry(spark, tmp_path):
    """A crash between data write and commit marker → retry overwrites."""
    out = str(tmp_path / "out")
    sink = EpochSink(out)
    df1 = spark.range(3).selectExpr("id AS event_id")
    # first attempt: data written but no _COMMITTED (simulated crash)
    df1.write.mode("overwrite").json(os.path.join(out, "epoch=7"))
    assert sink.committed_epochs() == []
    df2 = spark.range(4).selectExpr("id AS event_id")
    sink(df2, epoch_id=7)  # retry with the real batch
    got = spark.read.json(os.path.join(out, "epoch=7"))
    assert got.count() == 4
    assert sink.committed_epochs() == [7]
