"""Streaming rollup maintenance: state equals the batch recompute, and
replays don't double-count."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.operators.incremental import (
    _partials,
)
from data_engineering_project_spotify_app_spark.streaming.rollup import (
    IncrementalRollupSink,
)
from data_engineering_project_spotify_app_spark.streaming.sinks import attach
from data_engineering_project_spotify_app_spark.streaming.stream_ops import (
    stream_events,
)


def _drop(d, name, rows):
    with open(os.path.join(d, name), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _ev(i, etype):
    return {
        "event_id": i,
        "ts": f"2024-01-01T00:{i % 60:02d}:00.000Z",
        "user_id": i % 3,
        "event_type": etype,
        "value": round(0.5 * i + 1, 2),
        "props": "{}",
    }


def test_streamed_state_equals_batch_recompute(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows0 = [_ev(i, "click" if i % 2 else "view") for i in range(20)]
    rows1 = [_ev(i, "click" if i % 3 else "error") for i in range(20, 45)]
    _drop(src, "b0.json", rows0)
    stream = stream_events(spark, src, max_files_per_trigger=1)
    out = str(tmp_path / "state")
    sink = IncrementalRollupSink(spark, out)
    q = attach(stream, sink, "rollup1")
    try:
        q.processAllAvailable()
        _drop(src, "b1.json", rows1)
        time.sleep(0.1)
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(sink.committed_versions()) >= 2
    got = sorted(tuple(r) for r in sink.current().collect())
    full = spark.read.schema(stream.schema).json(src)
    want = sorted(tuple(r) for r in _partials(full).collect())
    assert got == want


def test_replayed_epoch_is_skipped(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _drop(src, "b0.json", [_ev(i, "click") for i in range(10)])
    stream = stream_events(spark, src, max_files_per_trigger=1)
    out = str(tmp_path / "state")
    sink = IncrementalRollupSink(spark, out)
    q = attach(stream, sink, "rollup2")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    before = sorted(tuple(r) for r in sink.current().collect())
    # replay the last committed epoch by hand — must be a no-op
    batch = spark.read.schema(stream.schema).json(src)
    sink(batch, sink.committed_versions()[-1])
    after = sorted(tuple(r) for r in sink.current().collect())
    assert after == before
    # total count must equal the 10 source events exactly once
    n_total = sum(r[1] for r in after)
    assert n_total == 10
