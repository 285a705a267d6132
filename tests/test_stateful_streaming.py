"""Custom stateful operator: state must accumulate ACROSS micro-batches."""

from __future__ import annotations

import json
import time

from data_engineering_project_spotify_app_spark.streaming.stateful import (
    user_profiles,
)
from data_engineering_project_spotify_app_spark.streaming.stream_ops import (
    stream_events,
)


def _write_batch(d, name, rows):
    with open(d / name, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _ev(i, user, value):
    return {
        "event_id": i,
        "ts": f"2024-01-01T00:{i % 60:02d}:00.000Z",
        "user_id": user,
        "event_type": "click",
        "value": value,
        "props": "{}",
    }


def test_state_accumulates_across_batches(spark, tmp_path):
    d = tmp_path / "stream"
    d.mkdir()
    # batch 1 present before the query starts
    _write_batch(d, "b0.json", [_ev(1, 7, 10.0), _ev(2, 7, 20.0), _ev(3, 8, 5.0)])

    stream = stream_events(spark, str(d), max_files_per_trigger=1)
    q = (
        user_profiles(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("profiles")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["user_id"]: (r["n_events"], r["total_value"], r["max_value"])
            for r in spark.sql("SELECT * FROM profiles").collect()
        }
        assert first[7] == (2, 30.0, 20.0)
        assert first[8] == (1, 5.0, 5.0)

        # batch 2 arrives later: state for user 7 must carry over
        _write_batch(d, "b1.json", [_ev(4, 7, 100.0), _ev(5, 9, 1.0)])
        time.sleep(0.1)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM profiles").collect()
        latest = {}
        for r in rows:  # memory sink appends updates; last write wins
            latest[r["user_id"]] = (r["n_events"], r["total_value"], r["max_value"])
        assert latest[7] == (3, 130.0, 100.0)  # 2 prior events + 1 new
    finally:
        q.stop()


def test_profiles_match_batch_aggregate_at_end(spark, tmp_path):
    d = tmp_path / "stream2"
    d.mkdir()
    rows = [_ev(i, i % 4, float(i)) for i in range(40)]
    _write_batch(d, "all.json", rows)
    stream = stream_events(spark, str(d), max_files_per_trigger=10)
    q = (
        user_profiles(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("profiles2")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["user_id"]: (r["n_events"], r["total_value"], r["max_value"])
            for r in spark.sql("SELECT * FROM profiles2").collect()
        }
    finally:
        q.stop()
    import collections

    want = collections.defaultdict(lambda: [0, 0.0, float("-inf")])
    for r in rows:
        w = want[r["user_id"]]
        w[0] += 1
        w[1] += r["value"]
        w[2] = max(w[2], r["value"])
    for u, (n, t, m) in got.items():
        assert (n, round(t, 2), m) == (
            want[u][0],
            round(want[u][1], 2),
            want[u][2],
        )


def _scd_ev(i, user, etype):
    return {
        "event_id": i,
        "ts": f"2024-01-01T00:{i:02d}:00.000Z",
        "user_id": user,
        "event_type": etype,
        "value": 1.0,
        "props": "{}",
    }


def test_scd2_stream_matches_batch_closed_intervals(spark, tmp_path):
    """The streaming SCD2 twin must emit exactly the CLOSED intervals the
    batch gaps-and-islands operator computes (is_current=false rows),
    regardless of how the ordered event log is sliced into micro-batches."""
    from data_engineering_project_spotify_app_spark.operators import registry
    from data_engineering_project_spotify_app_spark.streaming.stateful import (
        scd2_stream,
    )

    registry.load_all_modules()

    rows = [
        _scd_ev(0, 7, "click"),
        _scd_ev(1, 7, "click"),
        _scd_ev(2, 8, "view"),
        _scd_ev(3, 7, "error"),   # closes 7's click run
        _scd_ev(4, 8, "view"),
        _scd_ev(5, 8, "click"),   # closes 8's view run
        _scd_ev(6, 7, "error"),
        _scd_ev(7, 7, "click"),   # closes 7's error run
        _scd_ev(8, 8, "click"),
    ]

    # batch twin over the same rows, via a temp fixture dir
    fixture = tmp_path / "fixture"
    fixture.mkdir()
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
    batch = registry.QUERIES["q_scd2_intervals"](spark, str(fixture))
    expect = {
        (r.user_id, r.state, r.valid_from, r.valid_to, r.n_events)
        for r in batch.collect()
        if not r.is_current
    }
    assert len(expect) == 3

    # stream the same log in 3 ordered micro-batches; the file source
    # orders batches by modification time, and files written
    # back-to-back can share an mtime (observed flake) — force a
    # strictly increasing sequence so the slicing is deterministic
    import os
    import time as _time

    d = tmp_path / "stream_scd2"
    d.mkdir()
    now = _time.time()
    for k, (name, chunk) in enumerate(
        [("b0.json", rows[:3]), ("b1.json", rows[3:6]), ("b2.json", rows[6:])]
    ):
        _write_batch(d, name, chunk)
        os.utime(d / name, (now - 30 + 10 * k, now - 30 + 10 * k))
    q = (
        scd2_stream(stream_events(spark, str(d), max_files_per_trigger=1))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("scd2_closed")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.state, r.valid_from, r.valid_to, r.n_events)
        for r in spark.sql("SELECT * FROM scd2_closed").collect()
    }
    assert got == expect


def test_scd2_fold_is_chunk_order_independent():
    """applyInPandasWithState delivers a large group as several Arrow
    chunks in ARBITRARY order; the fold must concat+sort the whole
    batch before folding, or chunk-boundary events close spurious
    intervals. Drives _scd2_fn directly with shuffled chunkings."""
    import pandas as pd

    from data_engineering_project_spotify_app_spark.streaming.stateful import (
        _scd2_fn,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def mk(rows):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([r[0] for r in rows], unit="s"),
                "event_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        )

    events = [
        (10, 1, "a"), (20, 2, "a"), (30, 3, "b"),
        (40, 4, "b"), (50, 5, "a"), (60, 6, "c"),
    ]

    def run(chunking):
        st = FakeState()
        out = list(_scd2_fn((7,), [mk(c) for c in chunking], st))
        rows = []
        for pdf in out:
            rows += [tuple(r) for r in pdf.itertuples(index=False)]
        return rows, st._v

    base_rows, base_state = run([events])
    assert len(base_rows) == 3  # a|b, b|a, a|c boundaries close 3 runs
    # chunk boundaries mid-run, reversed chunk order, singleton chunks
    for chunking in (
        [events[:2], events[2:]],
        [events[4:], events[:4]],
        [events[3:], events[:3]],
        [[e] for e in reversed(events)],
    ):
        rows, state = run(chunking)
        assert rows == base_rows, chunking
        assert state == base_state, chunking


def test_session_fold_rearms_on_extension_and_closes_at_extended_end():
    """A late event extends an open session: the fold must move the
    event-time alarm to the NEW end + gap, and the timeout must emit the
    session with its extended bounds and count. Drives _session_fn
    directly with a fake GroupState and a scripted watermark."""
    import pandas as pd

    from data_engineering_project_spotify_app_spark.streaming.stateful import (
        _session_fn,
    )

    class FakeState:
        def __init__(self):
            self.exists, self._v = False, None
            self.hasTimedOut, self.timeout_ms = False, None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

        def remove(self):
            self.exists, self._v, self.timeout_ms = False, None, None

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

    def batch(ms):
        return pd.DataFrame({"ts": pd.to_datetime(ms, unit="ms")})

    fold = _session_fn(1_000)
    st = FakeState()
    closed = []

    def fire(watermark_ms):
        if st.exists and st.timeout_ms <= watermark_ms:
            st.hasTimedOut = True
            closed.extend(fold((1,), [], st))
            st.hasTimedOut = False

    list(fold((1,), [batch([1_000, 1_400])], st))
    assert st.timeout_ms == 2_400
    list(fold((1,), [batch([2_000])], st))  # extends before the alarm
    assert st.timeout_ms == 3_000
    fire(2_500)  # past the first alarm, not the re-armed one
    assert closed == []
    fire(3_500)
    list(fold((1,), [batch([5_000])], st))  # a new session after close
    fire(7_000)

    rows = [
        (r.session_start.value // 1_000_000, r.session_end.value // 1_000_000,
         r.n_events)
        for pdf in closed
        for r in pdf.itertuples(index=False)
    ]
    assert rows == [(1_000, 2_000, 3), (5_000, 5_000, 1)]
    assert not st.exists


def test_corpus_filter_stream_matches_batch_decisions(spark, tmp_path):
    """Streaming curation funnel == q_corpus_filter's batch decisions
    when arrival order follows doc_id (the batch keeper rule)."""
    import os
    import time as _time

    from data_engineering_project_spotify_app_spark.operators import registry
    from data_engineering_project_spotify_app_spark.streaming.stateful import (
        corpus_filter_stream,
    )

    registry.load_all_modules()
    long_good = " ".join(["the quick brown fox jumps of and a"] * 5)
    docs = [
        (1, long_good),
        (2, long_good),                               # duplicate of 1
        (3, "tiny short doc"),                        # too_short
        (4, " ".join(f"w{i}" for i in range(40))),    # low_quality
        (5, "tiny short doc"),                        # duplicate (cross-batch)
    ]
    # batch fixture for the oracle decision
    fixture = tmp_path / "fx"
    (
        spark.createDataFrame(docs, "doc_id long, text string")
        .selectExpr(
            "doc_id", "text", "'en' AS lang", "'t' AS source",
            "CAST(length(text) AS BIGINT) AS n_chars",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(fixture / "documents.parquet"))
    )
    expect = {
        r["doc_id"]: (r["reason"], r["keep"])
        for r in registry.QUERIES["q_corpus_filter"](
            spark, str(fixture)
        ).collect()
    }

    # stream the same docs in doc_id order, duplicate pair split across
    # micro-batches so the cross-batch state is exercised
    import json as _json

    d = tmp_path / "docs_stream"
    d.mkdir()
    now = _time.time()
    for k, chunk in enumerate([docs[:3], docs[3:]]):
        p = d / f"b{k}.json"
        with open(p, "w") as fh:
            for doc_id, text in chunk:
                fh.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.utime(p, (now - 20 + 10 * k,) * 2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(d))
    )
    q = (
        corpus_filter_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("cfs")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["reason"], r["keep"])
        for r in spark.sql("SELECT * FROM cfs").collect()
    }
    assert got == expect
    assert got[5] == ("duplicate", False)  # cross-batch duplicate memory


def test_dedup_lines_stream_matches_batch_keeps(spark, tmp_path):
    """Streaming line dedup == q_dedup_lines' reassembled documents when
    arrival order follows doc_id; the boilerplate line is split across
    micro-batches so the cross-batch line memory is exercised."""
    import json as _json
    import os
    import time as _time

    from data_engineering_project_spotify_app_spark.operators import registry
    from data_engineering_project_spotify_app_spark.streaming.stateful import (
        dedup_lines_stream,
    )

    registry.load_all_modules()
    boiler = "enable java script and cookies now please ok"  # 8 tokens = 2 lines
    docs = [
        (1, boiler + " unique tail one two"),
        (2, "fresh words only in doc two here yes"),
        (3, boiler + " different ending entirely"),   # cross-batch dup lines
        (4, "fresh words only in doc two here yes"),  # full dup of 2
    ]
    fixture = tmp_path / "fx"
    (
        spark.createDataFrame(docs, "doc_id long, text string")
        .selectExpr(
            "doc_id", "text", "'en' AS lang", "'t' AS source",
            "CAST(length(text) AS BIGINT) AS n_chars",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(fixture / "documents.parquet"))
    )
    expect = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_dropped"])
        for r in registry.QUERIES["q_dedup_lines"](spark, str(fixture)).collect()
    }

    d = tmp_path / "docs_stream"
    d.mkdir()
    now = _time.time()
    for k, chunk in enumerate([docs[:2], docs[2:]]):
        p = d / f"b{k}.json"
        with open(p, "w") as fh:
            for doc_id, text in chunk:
                fh.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.utime(p, (now - 20 + 10 * k,) * 2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(d))
    )
    q = (
        dedup_lines_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("dls")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dls").collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    got = {}
    for doc_id, lines in by_doc.items():
        lines.sort(key=lambda r: r["line_idx"])
        got[doc_id] = (
            " ".join(x["line"] for x in lines if x["keep"]),
            sum(1 for x in lines if x["keep"]),
            sum(1 for x in lines if not x["keep"]),
        )
    assert got == expect
    # the cross-batch duplicate actually crossed batches: doc 3 shares
    # boilerplate lines with doc 1 (batch 0) and must have dropped them
    assert got[3][2] >= 2
    assert got[4] == ("", 0, 2)  # doc 4 is a full duplicate of doc 2


def _db_ev(eid, user, etype, sec):
    return {
        "event_id": eid,
        "ts": f"2024-01-01T00:{sec // 60:02d}:{sec % 60:02d}.000Z",
        "user_id": user,
        "event_type": etype,
        "value": 1.0,
        "props": "{}",
    }


def _debounce_reference(events, gap_s=60):
    """Sequential keep-after-last-KEPT fold: the semantics
    debounce_stream implements (NOT the batch q_debounce lag window)."""
    kept = set()
    last: dict[tuple, int] = {}
    for sec, eid, user, etype in sorted(
        (e["sec"], e["eid"], e["user"], e["etype"]) for e in events
    ):
        k = (user, etype)
        if k not in last or sec - last[k] > gap_s:
            kept.add(eid)
            last[k] = sec
    return kept


def test_debounce_stream_keep_after_last_kept(spark, tmp_path):
    """Cross-batch stateful debounce == the sequential reference fold —
    including the case that SEPARATES it from the batch q_debounce's
    predecessor-gap window: a chain of sub-gap events whose total span
    exceeds the gap (40 s steps, 60 s gap) re-keeps at +80 s because
    the clock anchors on the last KEPT event, while the lag window
    would reset its clock on every arrival and keep only the first."""
    from data_engineering_project_spotify_app_spark.streaming.stateful import (
        debounce_stream,
    )

    evs = [
        # user 7 click: chain at 0/40/80/120 s → kept {1, 3}
        dict(eid=1, user=7, etype="click", sec=0),
        dict(eid=2, user=7, etype="click", sec=40),
        dict(eid=3, user=7, etype="click", sec=80),
        dict(eid=4, user=7, etype="click", sec=120),
        # user 7 view: independent key, far apart → both kept
        dict(eid=5, user=7, etype="view", sec=10),
        dict(eid=6, user=7, etype="view", sec=200),
        # user 8 click: tie-breaks on event_id at equal ts
        dict(eid=7, user=8, etype="click", sec=30),
        dict(eid=8, user=8, etype="click", sec=30),
        dict(eid=9, user=8, etype="click", sec=95),
    ]
    expect = _debounce_reference(evs)
    assert expect == {1, 3, 5, 6, 7, 9}  # the reference itself, pinned

    import os
    import time as _time

    d = tmp_path / "stream_debounce"
    d.mkdir()
    rows = [_db_ev(e["eid"], e["user"], e["etype"], e["sec"]) for e in evs]
    now = _time.time()
    # in-(ts)-order slicing, bursts split across micro-batches
    for k, (name, chunk) in enumerate(
        [("b0.json", rows[:3]), ("b1.json", rows[3:6]), ("b2.json", rows[6:])]
    ):
        _write_batch(d, name, chunk)
        os.utime(d / name, (now - 30 + 10 * k, now - 30 + 10 * k))
    q = (
        debounce_stream(stream_events(spark, str(d), max_files_per_trigger=1))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("debounced")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_id for r in spark.sql("SELECT * FROM debounced").collect()}
    assert got == expect


def test_debounce_fold_is_chunk_order_independent():
    """Arrow chunk order is not contractual: shuffled chunkings of one
    micro-batch must fold to the identical kept set and final state."""
    import pandas as pd

    from data_engineering_project_spotify_app_spark.streaming.stateful import (
        _debounce_fn,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def mk(rows):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([r[0] for r in rows], unit="s"),
                "event_id": [r[1] for r in rows],
            }
        )

    fn = _debounce_fn(60 * 1_000_000)
    events = [(0, 1), (40, 2), (80, 3), (120, 4), (130, 5), (200, 6)]

    def run(chunking):
        st = FakeState()
        out = list(fn((7, "click"), [mk(c) for c in chunking], st))
        rows = []
        for pdf in out:
            rows += [tuple(r) for r in pdf.itertuples(index=False)]
        return rows, st._v

    base_rows, base_state = run([events])
    assert [r[2] for r in base_rows] == [1, 3, 6]  # eids kept
    for chunking in (
        [events[:2], events[2:]],
        [events[4:], events[:4]],
        [[e] for e in reversed(events)],
    ):
        rows, state = run(chunking)
        assert rows == base_rows, chunking
        assert state == base_state, chunking


def test_weighted_reservoir_stream_matches_batch_race(spark, tmp_path):
    """The per-source streaming reservoir == batch A-ES top-k per
    source over the UNION of all micro-batches, for an arbitrary
    slicing — min-k is mergeable, so unlike scd2/debounce there is no
    arrival-order precondition to respect. Expected side computed with
    the IDENTICAL race-key expression on a batch frame."""
    import json as _json
    import os
    import time as _time

    from pyspark.sql import functions as F

    from data_engineering_project_spotify_app_spark.operators.dataset import (
        _wsample_key_sql,
    )
    from data_engineering_project_spotify_app_spark.streaming.stateful import (
        weighted_reservoir_stream,
    )

    K = 3
    docs = [
        # (doc_id, source, n_chars) — two sources, deliberately
        # interleaved and sliced mid-source; one zero-weight doc that
        # must be excluded from the race entirely
        (101, "web", 500), (102, "web", 40), (103, "books", 900),
        (104, "web", 7), (105, "books", 1200), (106, "web", 3000),
        (107, "books", 2), (108, "web", 64), (109, "books", 0),
        (110, "web", 850), (111, "books", 77), (112, "web", 12),
    ]

    d = tmp_path / "stream_reservoir"
    d.mkdir()
    now = _time.time()
    for k, chunk in enumerate([docs[:4], docs[4:8], docs[8:]]):
        p = d / f"b{k}.json"
        with open(p, "w") as fh:
            for doc_id, source, n_chars in chunk:
                fh.write(
                    _json.dumps(
                        {"doc_id": doc_id, "source": source, "n_chars": n_chars}
                    )
                    + "\n"
                )
        os.utime(p, (now - 30 + 10 * k,) * 2)

    stream = (
        spark.readStream.schema("doc_id long, source string, n_chars long")
        .option("maxFilesPerTrigger", "1")
        .json(str(d))
    )
    q = (
        weighted_reservoir_stream(stream, k=K)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("reservoir")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """SELECT source, doc_id, weight, sample_key FROM reservoir r
           WHERE version = (SELECT max(version) FROM reservoir
                            WHERE source = r.source)"""
    ).collect()
    got = {(r.source, r.doc_id, r.weight, round(r.sample_key, 9)) for r in rows}

    batch = spark.createDataFrame(
        docs, "doc_id long, source string, n_chars long"
    )
    key_expr = F.expr(_wsample_key_sql().replace("VARCHAR", "STRING"))
    from pyspark.sql import Window as W

    ranked = (
        batch.filter(F.col("n_chars") > 0)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            key_expr.alias("k"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("source").orderBy(F.col("k").asc(), "doc_id")
            ),
        )
        .filter(F.col("rn") <= K)
    )
    want = {
        (r.source, r.doc_id, r.weight, round(r.k, 9)) for r in ranked.collect()
    }
    assert got == want
    assert len({s for s, *_ in want}) == 2  # both sources present
    assert not any(i == 109 for _, i, *_ in got)  # zero-weight excluded


def test_weighted_sample_per_source_batch_matches_stream(spark, tmp_path):
    """The registered batch operator (dataset.weighted_sample_per_source)
    == the streaming reservoir's final state on the same docs — the two
    are twins sharing one race-key expression, so the sampled sets must
    be identical (rounded to the emitted precision)."""
    import json as _json
    import os
    import time as _time

    from pyspark.sql import functions as F

    from data_engineering_project_spotify_app_spark.operators.dataset import (
        weighted_sample_per_source,
    )
    from data_engineering_project_spotify_app_spark.streaming.stateful import (
        weighted_reservoir_stream,
    )

    K = 3
    docs = [
        (201, "web", 420), (202, "web", 11), (203, "books", 77),
        (204, "web", 998), (205, "books", 5), (206, "web", 1),
        (207, "books", 3200), (208, "web", 250), (209, "books", 0),
        (210, "web", 66), (211, "books", 845), (212, "web", 19),
    ]

    d = tmp_path / "stream_reservoir_batch_twin"
    d.mkdir()
    now = _time.time()
    for i, chunk in enumerate([docs[:5], docs[5:9], docs[9:]]):
        p = d / f"b{i}.json"
        with open(p, "w") as fh:
            for doc_id, source, n_chars in chunk:
                fh.write(
                    _json.dumps(
                        {"doc_id": doc_id, "source": source, "n_chars": n_chars}
                    )
                    + "\n"
                )
        os.utime(p, (now - 30 + 10 * i,) * 2)

    stream = (
        spark.readStream.schema("doc_id long, source string, n_chars long")
        .option("maxFilesPerTrigger", "1")
        .json(str(d))
    )
    q = (
        weighted_reservoir_stream(stream, k=K)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("reservoir_twin")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """SELECT source, doc_id, weight, sample_key FROM reservoir_twin r
           WHERE version = (SELECT max(version) FROM reservoir_twin
                            WHERE source = r.source)"""
    ).collect()
    got = {(r.source, r.doc_id, r.weight, round(r.sample_key, 6)) for r in rows}

    batch = spark.createDataFrame(
        docs, "doc_id long, source string, n_chars long"
    )
    want = {
        (r.source, r.doc_id, r.weight, r.sample_key)
        for r in weighted_sample_per_source(batch, K).collect()
    }
    assert got == want


def test_lm_score_stream_matches_batch_scorer(spark, tmp_path):
    """Stream-static LM scoring across two micro-batches must equal the
    batch twin's scores on the same (LM, candidate) frames — including
    OOV bigrams that only the coalesce(0) path handles."""
    from pyspark.sql import functions as F

    from data_engineering_project_spotify_app_spark.functions.text import (
        tokens,
    )
    from data_engineering_project_spotify_app_spark.streaming.stream_ops import (
        lm_score_stream,
    )

    eval_rows = [(0, "a b c a b"), (1, "b c d")]
    ev = spark.createDataFrame(eval_rows, "doc_id bigint, text string")
    toks = ev.select(tokens(F.col("text")).alias("t"))
    n = F.size("t")
    pairs = F.zip_with(
        F.slice("t", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("t", 2, F.greatest(n - 1, F.lit(0))),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bc = (
        toks.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
    )
    uc = (
        ev.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cu"))
    )
    vsz = ev.select(
        F.explode(tokens(F.col("text"))).alias("tok")
    ).distinct().count()

    d = tmp_path / "docs"
    d.mkdir()
    _write_batch(d, "b0.json", [{"doc_id": 10, "text": "a b c"}])
    docs = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        lm_score_stream(docs, bc, uc, vsz)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("lm_scores")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one in-vocab doc, one with OOV tokens
        _write_batch(
            d,
            "b1.json",
            [{"doc_id": 11, "text": "b c d b"},
             {"doc_id": 12, "text": "x y z"}],
        )
        time.sleep(0.1)
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
            for r in spark.sql("SELECT * FROM lm_scores").collect()
        }
    finally:
        q.stop()

    cand = spark.createDataFrame(
        [(10, "a b c"), (11, "b c d b"), (12, "x y z")],
        "doc_id bigint, text string",
    )
    cand_bg = (
        cand.select("doc_id", tokens(F.col("text")).alias("t"))
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    want = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in cand_bg.join(bc, ["w1", "w2"], "left")
        .join(uc, F.col("tok") == F.col("w1"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1.0))
                        / (F.coalesce(F.col("cu"), F.lit(0)) + F.lit(vsz))
                    )
                ),
                4,
            ).alias("avg_logprob"),
        )
        .collect()
    }
    assert got == want and set(got) == {10, 11, 12}


def test_classifier_score_stream_matches_batch(spark, tmp_path):
    """Stream-static model scoring across two micro-batches must equal
    the registered batch classifier on the same docs."""
    from pyspark.sql import functions as F

    from data_engineering_project_spotify_app_spark.operators import registry
    from data_engineering_project_spotify_app_spark.operators.textops import (
        _QC_BIAS,
        _QC_DIM,
    )
    from data_engineering_project_spotify_app_spark.streaming.stream_ops import (
        classifier_score_stream,
    )

    registry.load_all_modules()
    weights = spark.range(_QC_DIM).select(
        F.col("id").alias("bucket"),
        (
            ((F.col("id") * F.lit(2654435761)) % F.lit(2048)).cast("double")
            / F.lit(1024.0)
            - F.lit(1.0)
        ).alias("wt"),
    )
    texts = {
        10: "alpha beta gamma delta",
        11: "epsilon zeta eta theta iota",
        12: "kappa lambda mu",
    }
    d = tmp_path / "docs"
    d.mkdir()
    _write_batch(d, "b0.json", [{"doc_id": 10, "text": texts[10]}])
    docs = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        classifier_score_stream(docs, weights, _QC_BIAS)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("clf_scores")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(
            d,
            "b1.json",
            [{"doc_id": i, "text": texts[i]} for i in (11, 12)],
        )
        time.sleep(0.1)
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["n_tokens"], r["score"], r["keep"])
            for r in spark.sql("SELECT * FROM clf_scores").collect()
        }
    finally:
        q.stop()

    batch_dir = tmp_path / "batch"
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in texts.items()],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(f"{batch_dir}/documents.parquet")
    want = {
        r["doc_id"]: (r["n_tokens"], r["score"], r["keep"])
        for r in registry.QUERIES["q_quality_classifier"](
            spark, str(batch_dir)
        ).collect()
    }
    assert got == want and set(got) == {10, 11, 12}


def test_kmv_sketch_stream_matches_batch_sketch(spark, tmp_path):
    """After two micro-batches the streamed KMV state must equal the
    batch k-min sketch over the union of both batches — same n_kmin,
    same kth, same estimate."""
    from pyspark.sql import functions as F

    from data_engineering_project_spotify_app_spark.streaming.stateful import (
        _KMV_STREAM_K,
        kmv_sketch_stream,
    )

    d = tmp_path / "stream"
    d.mkdir()
    rows1 = [_ev(i, i % 97, 1.0) for i in range(150)]
    _write_batch(d, "b0.json", rows1)
    stream = stream_events(spark, str(d), max_files_per_trigger=1)
    q = (
        kmv_sketch_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("kmv_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        rows2 = [_ev(1000 + i, 200 + (i % 131), 1.0) for i in range(200)]
        _write_batch(d, "b1.json", rows2)
        time.sleep(0.1)
        q.processAllAvailable()
        # last update per event_type wins
        got = {
            r["event_type"]: (r["n_kmin"], r["kth"], r["est_distinct"])
            for r in spark.sql(
                "SELECT * FROM kmv_stream ORDER BY n_kmin"
            ).collect()
        }
    finally:
        q.stop()

    all_rows = rows1 + rows2
    batch = spark.createDataFrame(
        [(r["event_type"], r["user_id"]) for r in all_rows],
        "event_type string, user_id bigint",
    ).select(
        "event_type",
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), "
            "16, 10) AS BIGINT)"
        ).alias("hv"),
    )
    hvs = sorted({r["hv"] for r in batch.collect()})[:_KMV_STREAM_K]
    m = len(hvs)
    kth = hvs[-1]
    est = float(m) if m < _KMV_STREAM_K else round(
        (_KMV_STREAM_K - 1) * 4294967296.0 / kth, 1
    )
    assert got == {"click": (m, kth, est)}


def test_decayed_engagement_stream_matches_batch(spark, tmp_path):
    """After two micro-batches, decaying each user's streamed state to
    the corpus max timestamp must reproduce the batch fixed-reference
    query's score (same kernel, different association order — compare
    with a float tolerance, not equality)."""
    import math

    from data_engineering_project_spotify_app_spark.operators.funnel import (
        _DECAY_HALF_LIFE_DAYS,
    )
    from data_engineering_project_spotify_app_spark.streaming.stateful import (
        DECAY_HALF_LIFE_DAYS,
        decayed_engagement_stream,
    )

    assert DECAY_HALF_LIFE_DAYS == _DECAY_HALF_LIFE_DAYS

    d = tmp_path / "stream"
    d.mkdir()
    rows1 = [_ev(i, i % 3, float(i + 1)) for i in range(20)]
    _write_batch(d, "b0.json", rows1)
    stream = stream_events(spark, str(d), max_files_per_trigger=1)
    q = (
        decayed_engagement_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("decayed")
        .start()
    )
    try:
        q.processAllAvailable()
        rows2 = [_ev(100 + i, i % 3, 2.5 * (i + 1)) for i in range(15)]
        _write_batch(d, "b1.json", rows2)
        time.sleep(0.1)
        q.processAllAvailable()
        got = {
            r["user_id"]: r
            for r in spark.sql("SELECT * FROM decayed").collect()
            if r["n_events"] == max(
                x["n_events"]
                for x in spark.sql("SELECT * FROM decayed").collect()
                if x["user_id"] == r["user_id"]
            )
        }
    finally:
        q.stop()

    from pyspark.sql import functions as F

    all_rows = rows1 + rows2
    batch = spark.createDataFrame(
        [(r["user_id"], r["ts"], r["value"]) for r in all_rows],
        "user_id bigint, ts string, value double",
    ).select(
        "user_id",
        F.unix_micros(F.to_timestamp("ts")).alias("tus"),
        "value",
    )
    ref = batch.agg(F.max("tus")).collect()[0][0]
    lam = math.log(2.0) / DECAY_HALF_LIFE_DAYS
    expected = {}
    for r in batch.collect():
        expected[r["user_id"]] = expected.get(r["user_id"], 0.0) + r[
            "value"
        ] * math.exp(-lam * (ref - r["tus"]) / 86400000000.0)
    assert set(got) == set(expected)
    for uid, exp_score in expected.items():
        streamed = got[uid]
        at_ref = streamed["decayed_score"] * math.exp(
            -lam * (ref - streamed["asof_us"]) / 86400000000.0
        )
        assert abs(at_ref - exp_score) < 1e-9, (uid, at_ref, exp_score)
    assert sum(r["n_events"] for r in got.values()) == len(all_rows)


def test_burst_detect_stream_flags_vs_static_baseline(spark, tmp_path):
    """Windowed stream counts z-scored against the static baseline:
    a day with 3x the baseline mean must flag, a normal day must not,
    and an unseen type flows with NULL z instead of dropping."""
    from data_engineering_project_spotify_app_spark.streaming.stream_ops import (
        burst_detect_stream,
    )

    baseline = spark.createDataFrame(
        [("click", 4.0, 2.0), ("view", 10.0, 5.0)],
        "event_type string, mu double, sd double",
    )

    def ev(i, day, etype):
        return {
            "event_id": i,
            "ts": f"2024-02-{day:02d}T00:{i % 60:02d}:00.000Z",
            "user_id": i % 5,
            "event_type": etype,
            "value": 1.0,
            "props": "{}",
        }

    d = tmp_path / "stream"
    d.mkdir()
    # day 1: 12 clicks (z = 4 -> burst) + 2 'scroll' (no baseline)
    rows1 = [ev(i, 1, "click") for i in range(12)] + [
        ev(100 + i, 1, "scroll") for i in range(2)
    ]
    _write_batch(d, "b0.json", rows1)
    stream = stream_events(spark, str(d), max_files_per_trigger=1)
    q = (
        burst_detect_stream(stream, baseline)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("bursts")
        .start()
    )
    try:
        q.processAllAvailable()
        # day 2: 5 clicks (z = 0.5 -> calm)
        _write_batch(d, "b1.json", [ev(200 + i, 2, "click") for i in range(5)])
        time.sleep(0.1)
        q.processAllAvailable()
        got = {
            (str(r["day_start"])[:10], r["event_type"]): (
                r["n_events"],
                r["z"],
                r["is_burst"],
            )
            for r in spark.sql("SELECT * FROM bursts").collect()
        }
    finally:
        q.stop()

    assert got[("2024-02-01", "click")] == (12, 4.0, True)
    assert got[("2024-02-02", "click")] == (5, 0.5, False)
    n, z, burst = got[("2024-02-01", "scroll")]
    assert n == 2 and z is None and burst is None
