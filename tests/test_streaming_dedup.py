"""Streaming incremental LSH dedup: the union of per-epoch pair logs
must equal the batch q_minhash_lsh recompute on the same corpus, no
matter how the corpus is split into micro-batches; replays are no-ops.
"""

from __future__ import annotations

import json
import os
import time

from data_engineering_project_spotify_app_spark.operators.dedup import (
    minhash_candidate_pairs_df,
    minhash_signatures_df,
)
from data_engineering_project_spotify_app_spark.streaming.dedup_stream import (
    DOC_SCHEMA,
    StreamingLshDedupSink,
    stream_documents,
)
from data_engineering_project_spotify_app_spark.streaming.sinks import attach


def _drop_docs(src, name, rows):
    # write-then-rename: the file source can trigger while we write, and
    # a half-written file it lists is marked processed by name — the
    # unflushed tail would be lost. rename() makes the drop atomic.
    tmp = os.path.join(src, f".{name}.tmp")
    with open(tmp, "w") as fh:
        for doc_id, text in rows:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    os.rename(tmp, os.path.join(src, name))


def _corpus(spark, n=180):
    """A slice of the real fixture corpus — enough near-dups for a
    non-trivial pair set."""
    rows = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(n)
        .collect()
    )
    return [(r.doc_id, r.text) for r in rows]


def test_streamed_pairs_equal_batch_recompute(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    docs = _corpus(spark)
    # three uneven micro-batches — the split points are arbitrary and
    # must not matter
    splits = [docs[:40], docs[40:110], docs[110:]]
    _drop_docs(src, "b0.json", splits[0])
    stream = stream_documents(spark, src, max_files_per_trigger=1)
    out = str(tmp_path / "state")
    sink = StreamingLshDedupSink(spark, out)
    q = attach(stream, sink, "dedup_stream1")
    try:
        q.processAllAvailable()
        for i, batch in enumerate(splits[1:], start=1):
            _drop_docs(src, f"b{i}.json", batch)
            time.sleep(0.1)
            q.processAllAvailable()
    finally:
        q.stop()
    assert len(sink.committed_band_versions()) >= 3
    got = sorted(tuple(r) for r in sink.pairs().collect())
    full = spark.read.schema(DOC_SCHEMA).json(src)
    want = sorted(
        tuple(r)
        for r in minhash_candidate_pairs_df(
            minhash_signatures_df(full)
        ).collect()
    )
    assert want, "fixture slice produced no candidate pairs — test is vacuous"
    assert got == want
    # every pair lands in exactly one epoch: no duplicates across logs
    assert len(got) == len({(a, b) for a, b, _ in got})
    # the store advanced to hold every doc's bands (docs with >= 2
    # tokens produce signatures; empty/1-token docs drop out)
    n_store_docs = sink.current_bands().select("doc_id").distinct().count()
    n_sig_docs = minhash_signatures_df(full).count()
    assert n_store_docs == n_sig_docs


def test_replayed_epoch_is_noop_for_pairs_and_store(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    docs = _corpus(spark, n=60)
    _drop_docs(src, "b0.json", docs)
    stream = stream_documents(spark, src, max_files_per_trigger=1)
    out = str(tmp_path / "state")
    sink = StreamingLshDedupSink(spark, out)
    q = attach(stream, sink, "dedup_stream2")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pairs_before = sorted(tuple(r) for r in sink.pairs().collect())
    store_before = sorted(tuple(r) for r in sink.current_bands().collect())
    batch = spark.read.schema(DOC_SCHEMA).json(src)
    sink(batch, sink.committed_pair_epochs()[-1])  # replay by hand
    assert sorted(tuple(r) for r in sink.pairs().collect()) == pairs_before
    assert (
        sorted(tuple(r) for r in sink.current_bands().collect())
        == store_before
    )


def test_pairs_retry_after_committed_store_is_consistent(spark, tmp_path):
    """Failure injection for the half-committed epoch: store snapshot
    committed, pairs log not — the retry must rebuild the pairs log
    against the PRIOR store version (not the one already containing the
    batch, which would self-pair every batch doc)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    docs = _corpus(spark, n=80)
    first, second = docs[:50], docs[50:]
    _drop_docs(src, "b0.json", first)
    out = str(tmp_path / "state")
    sink = StreamingLshDedupSink(spark, out)
    b0 = spark.createDataFrame(first, DOC_SCHEMA)
    sink(b0, 0)
    want0 = sorted(tuple(r) for r in sink.pairs().collect())
    # simulate epoch 1 dying between the two commits: run it fully,
    # then delete the pairs marker and replay
    b1 = spark.createDataFrame(second, DOC_SCHEMA)
    sink(b1, 1)
    want = sorted(tuple(r) for r in sink.pairs().collect())
    os.remove(os.path.join(out, "pairs_e1", "_COMMITTED"))
    sink(b1, 1)  # retry: bands_e1 delta already committed, pairs rebuilt
    got = sorted(tuple(r) for r in sink.pairs().collect())
    assert got == want
    # epoch 0's pairs survived the epoch-1 retry untouched
    assert set(want0) <= set(got)


def test_streaming_bucket_cap_drops_degenerate_band(spark, tmp_path):
    """Skew guard: a band bucket over the cap produces no pairs from
    the epoch it crosses the cap onward; buckets that never cross are
    bit-identical to the uncapped run."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    # 12 identical docs → every band bucket holds all 12 (> cap 8);
    # 2 other near-identical docs pair normally (bucket size 2 <= cap)
    hot = [(i, "the same boilerplate text repeated verbatim everywhere")
           for i in range(12)]
    ok = [(100, "a perfectly ordinary document about spark engines"),
          (101, "a perfectly ordinary document about spark engines")]
    _drop_docs(src, "b0.json", hot[:6] + ok[:1])
    _drop_docs(src, "b1.json", hot[6:] + ok[1:])
    out = str(tmp_path / "state")
    stream = stream_documents(spark, src, max_files_per_trigger=1)
    sink = StreamingLshDedupSink(spark, out, bucket_cap=8)
    q = attach(stream, sink, "dedup_capped")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in sink.pairs().collect())
    # epoch 0: hot bucket holds 6 <= 8 → its C(6,2) pairs emit (prefix
    # semantics — already-durable facts); epoch 1: occupancy 12 > 8 →
    # zero new hot pairs. The ordinary pair emits in epoch 1 untouched.
    hot_pairs = [p for p in got if p[0] < 100]
    assert len(hot_pairs) == 15  # C(6,2), all from epoch 0
    assert (100, 101) in {(a, b) for a, b, _ in got}
    # and the never-over-cap pair matches the uncapped batch count
    full = spark.read.schema(DOC_SCHEMA).json(src)
    want = {
        (r.doc_a, r.doc_b): r.n_bands_matched
        for r in minhash_candidate_pairs_df(
            minhash_signatures_df(full)
        ).collect()
    }
    got_map = {(a, b): n for a, b, n in got}
    assert got_map[(100, 101)] == want[(100, 101)]


def test_streamed_line_dedup_equals_batch_on_ascending_ingest(
    spark, tmp_path
):
    """C4 line dedup, streamed: with documents arriving in ascending
    doc_id order (append-only ingest), the union of per-epoch cleaned
    docs must equal the batch dedup_lines recompute — the boilerplate
    line survives only in the first document of the first epoch that
    carried it."""
    from data_engineering_project_spotify_app_spark.operators.linedup import (
        LINE_TOKENS,
        dedup_lines,
    )
    from data_engineering_project_spotify_app_spark.streaming.linedup_stream import (
        StreamingLineDedupSink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    boiler = "please enable java script"
    docs = [
        (i, f"{boiler} unique tail line {i}") for i in range(30)
    ] + [(i, f"fresh content piece {i} entirely") for i in range(30, 45)]
    docs.sort()
    splits = [docs[:10], docs[10:32], docs[32:]]
    # drop one file per trigger so epoch order == ingest order (files
    # written upfront can share an mtime, making the source's initial
    # listing order unspecified — and the first-occurrence equivalence
    # is only claimed for in-order ingest)
    _drop_docs(src, "b0.json", splits[0])
    stream = stream_documents(spark, src, max_files_per_trigger=1)
    out = str(tmp_path / "state")
    sink = StreamingLineDedupSink(spark, out)
    q = attach(stream, sink, "linedup_stream1")
    try:
        q.processAllAvailable()
        for i, batch in enumerate(splits[1:], start=1):
            _drop_docs(src, f"b{i}.json", batch)
            time.sleep(0.1)
            q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in sink.clean_docs().collect())
    full = spark.read.schema(DOC_SCHEMA).json(src)
    want = sorted(
        tuple(r) for r in dedup_lines(full, LINE_TOKENS).collect()
    )
    assert got == want
    # the digest store holds exactly the distinct kept-line digests
    n_lines = sum(r[2] for r in got)  # n_kept per doc
    assert sink.current_store().count() == n_lines


def test_streamed_line_dedup_replay_is_noop(spark, tmp_path):
    from data_engineering_project_spotify_app_spark.streaming.linedup_stream import (
        StreamingLineDedupSink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    docs = [(i, f"shared boilerplate line here tail {i}") for i in range(8)]
    _drop_docs(src, "b0.json", docs)
    out = str(tmp_path / "state")
    sink = StreamingLineDedupSink(spark, out)
    batch = spark.read.schema(DOC_SCHEMA).json(src)
    sink(batch, 0)
    before = sorted(tuple(r) for r in sink.clean_docs().collect())
    sink(batch, 0)  # replay
    assert sorted(tuple(r) for r in sink.clean_docs().collect()) == before


def test_compaction_folds_deltas_and_replays_stay_noop(spark, tmp_path):
    """The store is an append-only DELTA chain (per-epoch O(|delta|)
    writes — never a full-store rewrite): compact() folds committed
    deltas into a base and the pair logs into a pairs base (content
    preserved — every pair lands in exactly one epoch); a replay of a
    compacted-away epoch neither re-emits pairs nor resurrects its
    delta; new epochs build on the base."""
    docs = _corpus(spark, n=90)
    out = str(tmp_path / "state")
    sink = StreamingLshDedupSink(spark, out)
    splits = [docs[:30], docs[30:60], docs[60:]]
    for e, batch in enumerate(splits):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    # each epoch wrote only its own bands: delta rows ≈ store/3, the
    # no-quadratic-rewrite property
    d0 = spark.read.parquet(sink._delta_dir(0)).count()
    total = sink.current_bands().count()
    assert d0 < total
    pairs_before = sorted(tuple(r) for r in sink.pairs().collect())
    store_before = sorted(
        tuple(r) for r in sink.current_bands().collect()
    )
    assert sink.compact() == [0, 1, 2]
    assert sink.committed_band_versions() == []  # all folded
    assert sink._base_epoch() == 2
    # replay epoch 0 (its delta folded into the base): full no-op
    sink(spark.createDataFrame(splits[0], DOC_SCHEMA), 0)
    assert sink._base_epoch() == 2
    assert sorted(tuple(r) for r in sink.pairs().collect()) == pairs_before
    assert (
        sorted(tuple(r) for r in sink.current_bands().collect())
        == store_before
    )
    # new epoch after compaction builds on the base
    extra = [(99990, docs[0][1]), (99991, docs[1][1])]  # dups of stored docs
    sink(spark.createDataFrame(extra, DOC_SCHEMA), 3)
    got = {(r.doc_a, r.doc_b) for r in sink.pairs().collect()}
    assert (docs[0][0], 99990) in got  # new-vs-store pair found post-compact
    assert sink.committed_band_versions() == [3]


def test_line_dedup_compaction(spark, tmp_path):
    from data_engineering_project_spotify_app_spark.streaming.linedup_stream import (
        StreamingLineDedupSink,
    )

    boiler = "please enable java script"
    out = str(tmp_path / "state")
    sink = StreamingLineDedupSink(spark, out)
    for e in range(3):
        rows = [
            (e * 10 + i, f"{boiler} unique tail line {e * 10 + i}")
            for i in range(5)
        ]
        sink(spark.createDataFrame(rows, DOC_SCHEMA), e)
    n_before = sink.current_store().count()
    docs_before = sorted(tuple(r) for r in sink.clean_docs().collect())
    assert sink.compact() == [0, 1, 2]
    assert sink.committed_delta_epochs() == []
    assert sink._base_epoch() == 2
    assert sink.current_store().count() == n_before
    # replay of compacted epoch 0: doc log skips, delta not resurrected
    rows0 = [(i, f"{boiler} unique tail line {i}") for i in range(5)]
    sink(spark.createDataFrame(rows0, DOC_SCHEMA), 0)
    assert sink._base_epoch() == 2
    assert sink.committed_delta_epochs() == []
    assert (
        sorted(tuple(r) for r in sink.clean_docs().collect()) == docs_before
    )
    # epoch 3 still dedups against the surviving store
    rows3 = [(100, f"{boiler} brand new tail here")]
    sink(spark.createDataFrame(rows3, DOC_SCHEMA), 3)
    row = (
        sink.clean_docs().filter("doc_id = 100").collect()[0]
    )
    assert row.clean_text == "brand new tail here"
    assert row.n_dropped == 1


def test_query_restart_continues_epochs_no_data_loss(spark, tmp_path):
    """The review-found data-loss scenario: stop the query, drop a new
    file, restart against the same out_dir. With the (always-set)
    checkpointLocation the restarted query resumes epoch ids where it
    left off and processes ONLY the new file — without it, epoch ids
    would reset to 0 and the new file would be skipped as a 'replay' of
    an already-marked epoch."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    docs = _corpus(spark, n=120)
    _drop_docs(src, "b0.json", docs[:40])
    _drop_docs(src, "b1.json", docs[40:80])
    out = str(tmp_path / "state")
    stream = stream_documents(spark, src, max_files_per_trigger=1)
    sink = StreamingLshDedupSink(spark, out)
    q = attach(stream, sink, "dedup_restart")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    epochs_before = set(sink.committed_pair_epochs())
    # new file arrives while the query is DOWN; fresh query object,
    # same out_dir + checkpoint
    _drop_docs(src, "b2.json", docs[80:])
    stream2 = stream_documents(spark, src, max_files_per_trigger=1)
    sink2 = StreamingLshDedupSink(spark, out)
    q2 = attach(stream2, sink2, "dedup_restart2")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    new_epochs = set(sink2.committed_pair_epochs()) - epochs_before
    assert new_epochs, "restart processed nothing — b2 was dropped"
    got = sorted(tuple(r) for r in sink2.pairs().collect())
    full = spark.read.schema(DOC_SCHEMA).json(src)
    want = sorted(
        tuple(r)
        for r in minhash_candidate_pairs_df(
            minhash_signatures_df(full)
        ).collect()
    )
    assert got == want


def test_compact_with_no_new_deltas_sweeps_crash_debris(spark, tmp_path):
    """A compact() that crashed after committing the base but before
    the sweep leaves folded deltas + the old base on disk; the NEXT
    compact() must reclaim them even when no new epochs arrived."""
    import shutil

    docs = _corpus(spark, n=60)
    out = str(tmp_path / "state")
    sink = StreamingLshDedupSink(spark, out)
    for e, lo in enumerate(range(0, 60, 20)):
        sink(spark.createDataFrame(docs[lo:lo + 20], DOC_SCHEMA), e)
    store_before = sorted(tuple(r) for r in sink.current_bands().collect())
    # simulate the crash: fold to base_v2 by hand, skip the sweep
    sink.current_bands().write.mode("overwrite").parquet(
        sink._base_dir(2)
    )
    sink._mark(sink._base_dir(2))
    assert os.path.isdir(sink._delta_dir(0))  # debris present
    # no new deltas (committed_delta_epochs filters <= base) — the
    # sweep must still run
    assert sink.compact() == []
    for e in range(3):
        assert not os.path.isdir(sink._delta_dir(e)), e
    assert (
        sorted(tuple(r) for r in sink.current_bands().collect())
        == store_before
    )
    shutil.rmtree(out, ignore_errors=True)


def test_lsh_duplicate_reingest_is_ignored(spark, tmp_path):
    """A backfill re-delivering already-stored doc_ids in a LATER epoch
    must not append duplicate band rows or re-emit already-logged
    pairs — the 'union of pair logs == batch pair set' contract holds
    under re-delivery (mirror of the ANN sink's guard)."""
    docs = _corpus(spark, n=120)
    out = str(tmp_path / "state")
    sink = StreamingLshDedupSink(spark, out)
    sink(spark.createDataFrame(docs[:80], DOC_SCHEMA), 0)
    # epoch 1 re-delivers 30 already-stored docs + 40 new ones, with
    # one doc duplicated WITHIN the batch too
    batch1 = docs[50:120] + [docs[60]]
    sink(spark.createDataFrame(batch1, DOC_SCHEMA), 1)
    full = spark.createDataFrame(docs, DOC_SCHEMA)
    n_sig_docs = minhash_signatures_df(full).count()
    bands = sink.current_bands()
    assert bands.select("doc_id").distinct().count() == n_sig_docs
    # no doc has a doubled band set
    per_doc = bands.groupBy("doc_id").count().select("count").distinct()
    assert per_doc.count() == 1
    got = sorted(tuple(r) for r in sink.pairs().collect())
    want = sorted(
        tuple(r)
        for r in minhash_candidate_pairs_df(
            minhash_signatures_df(full)
        ).collect()
    )
    assert want, "fixture slice produced no pairs — test is vacuous"
    assert got == want
    assert len(got) == len({(a, b) for a, b, _ in got})


def test_winnow_duplicate_reingest_is_ignored(spark, tmp_path):
    """The winnowing twin of test_lsh_duplicate_reingest_is_ignored: a
    later epoch re-delivering only stored doc_ids, one of them twice
    within the batch, adds no fingerprint rows and no pairs."""
    from data_engineering_project_spotify_app_spark.streaming.winnow_stream import (
        StreamingWinnowSink,
    )

    docs = _corpus(spark, n=60)
    out = str(tmp_path / "state")
    sink = StreamingWinnowSink(spark, out)
    sink(spark.createDataFrame(docs[:40], DOC_SCHEMA), 0)
    sink(spark.createDataFrame(docs[40:], DOC_SCHEMA), 1)
    store_before = sink.current_fingerprints().count()
    pairs_before = sorted(tuple(r) for r in sink.pairs().collect())
    assert pairs_before == _batch_winnow_pairs(
        spark, spark.createDataFrame(docs, DOC_SCHEMA)
    )
    assert pairs_before, "fixture slice produced no pairs — test is vacuous"
    sink(spark.createDataFrame(docs[10:50] + [docs[45]], DOC_SCHEMA), 2)
    assert sink.current_fingerprints().count() == store_before
    assert sorted(tuple(r) for r in sink.pairs().collect()) == pairs_before
    assert spark.read.parquet(os.path.join(out, "pairs_e2")).count() == 0


def test_line_dedup_duplicate_reingest_is_ignored(spark, tmp_path):
    """A doc_id re-delivered in a later epoch must not be re-logged into
    a second cleaned-docs entry (clean_docs() would return it twice,
    with every line dropped as already-kept)."""
    from data_engineering_project_spotify_app_spark.operators.linedup import (
        LINE_TOKENS,
        dedup_lines,
    )
    from data_engineering_project_spotify_app_spark.streaming.linedup_stream import (
        StreamingLineDedupSink,
    )

    boiler = "please enable java script"
    docs = [(i, f"{boiler} unique tail line {i}") for i in range(20)]
    out = str(tmp_path / "state")
    sink = StreamingLineDedupSink(spark, out)
    sink(spark.createDataFrame(docs[:12], DOC_SCHEMA), 0)
    # epoch 1 re-delivers 4 already-seen docs + 8 new ones, one
    # duplicated within the batch
    batch1 = docs[8:20] + [docs[10]]
    sink(spark.createDataFrame(batch1, DOC_SCHEMA), 1)
    got = sorted(tuple(r) for r in sink.clean_docs().collect())
    assert len(got) == len(docs)  # each doc exactly once
    want = sorted(
        tuple(r)
        for r in dedup_lines(
            spark.createDataFrame(docs, DOC_SCHEMA), LINE_TOKENS
        ).collect()
    )
    assert got == want


def test_line_dedup_replay_reclaims_staged_debris(spark, tmp_path):
    """A crash between the second commit marker and the staged-dir
    cleanup leaves staged_e{N} behind; the replay's early-return path
    must reclaim it (compact() never sweeps staged dirs)."""
    from data_engineering_project_spotify_app_spark.streaming.linedup_stream import (
        StreamingLineDedupSink,
    )

    docs = [(i, f"crash debris line tail {i}") for i in range(6)]
    out = str(tmp_path / "state")
    sink = StreamingLineDedupSink(spark, out)
    batch = spark.createDataFrame(docs, DOC_SCHEMA)
    sink(batch, 0)
    before = sorted(tuple(r) for r in sink.clean_docs().collect())
    # simulate the crash leftover: a staged dir for the committed epoch
    staged = os.path.join(out, "staged_e0")
    os.makedirs(staged, exist_ok=True)
    with open(os.path.join(staged, "part-junk.parquet"), "w") as fh:
        fh.write("debris")
    sink(batch, 0)  # replay: both outputs committed -> early return
    assert not os.path.isdir(staged), "staged debris leaked on replay"
    assert sorted(tuple(r) for r in sink.clean_docs().collect()) == before


def _batch_exact(spark, src):
    from pyspark.sql import functions as F

    full = spark.read.schema(DOC_SCHEMA).json(src)
    return sorted(
        (
            r["text_hash"],
            r["keep_id"],
            r["n_copies"],
            r["chars_all"],
            r["chars_kept"],
        )
        for r in full.select(
            F.md5("text").alias("text_hash"),
            "doc_id",
            F.length("text").cast("bigint").alias("n_chars"),
        )
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
            F.sum("n_chars").alias("chars_all"),
            F.min_by("n_chars", "doc_id").alias("chars_kept"),
        )
        .collect()
    )


def test_streamed_exact_dedup_equals_batch_any_split_order(spark, tmp_path):
    """Exact dedup's state is mergeable aggregates (min/sum), so the
    streamed state must equal the batch recompute for ANY micro-batch
    split — including out-of-order doc_id ingest, which the line-dedup
    twin cannot claim."""
    from data_engineering_project_spotify_app_spark.streaming.exact_stream import (
        StreamingExactDedupSink,
    )

    docs = _corpus(spark, n=90)
    # deliberately OUT-OF-ORDER splits + exact duplicates across epochs
    dup_text = docs[0][1]
    splits = [
        docs[60:90],
        docs[:30] + [(7001, dup_text)],
        docs[30:60] + [(7000, dup_text)],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, batch in enumerate(splits):
        _drop_docs(src, f"b{i}.json", batch)
    out = str(tmp_path / "state")
    sink = StreamingExactDedupSink(spark, out)
    for e, batch in enumerate(splits):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    got = sorted(tuple(r) for r in sink.current_state().collect())
    want = _batch_exact(spark, src)
    assert got == want and got
    # the duplicated text collapsed to one hash with the min keep_id
    from pyspark.sql import functions as F

    row = (
        sink.current_state()
        .filter(F.col("text_hash") == F.md5(F.lit(dup_text)))
        .collect()[0]
    )
    assert row["n_copies"] >= 3 and row["keep_id"] == docs[0][0]
    # replay an epoch: no-op
    before = got
    sink(spark.createDataFrame(splits[1], DOC_SCHEMA), 1)
    assert sorted(tuple(r) for r in sink.current_state().collect()) == before
    # cross-epoch re-delivery of existing doc_ids: guarded, no-op
    sink(spark.createDataFrame(splits[0][:10], DOC_SCHEMA), 3)
    assert sorted(tuple(r) for r in sink.current_state().collect()) == before
    # compact pre-merges the base; state unchanged, replays stay no-ops
    folded = sink.compact()
    assert folded == [0, 1, 2, 3]
    assert sorted(tuple(r) for r in sink.current_state().collect()) == before
    sink(spark.createDataFrame(splits[2], DOC_SCHEMA), 2)  # folded: no-op
    assert sorted(tuple(r) for r in sink.current_state().collect()) == before
    # post-compaction ingest still lands
    extra = [(8000, "a genuinely new exact stream document")]
    sink(spark.createDataFrame(extra, DOC_SCHEMA), 4)
    assert sink.current_state().count() == len(before) + 1


def test_streamed_dup_inflation_equals_batch(spark, tmp_path):
    """The streamed dup-inflation report (3-row aggregate over the
    maintained hash state) must equal the batch q_dup_inflation logic
    for any split — the store-format-v2 chars columns exist exactly for
    this report, and every input is a mergeable aggregate."""
    from pyspark.sql import functions as F

    from data_engineering_project_spotify_app_spark.streaming.exact_stream import (
        StreamingExactDedupSink,
    )

    docs = _corpus(spark, n=80)
    dup = docs[0][1]
    splits = [
        docs[40:80] + [(9001, dup)],
        docs[:40] + [(9000, dup), (9002, dup)],
    ]
    src = str(tmp_path / "src_di")
    os.makedirs(src)
    for i, batch in enumerate(splits):
        _drop_docs(src, f"b{i}.json", batch)
    sink = StreamingExactDedupSink(spark, str(tmp_path / "state_di"))
    for e, batch in enumerate(splits):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    # batch twin of q_dup_inflation over the same corpus
    g = (
        spark.read.schema(DOC_SCHEMA)
        .json(src)
        .select(
            F.md5("text").alias("h"),
            "doc_id",
            F.length("text").cast("bigint").alias("n_chars"),
        )
        .groupBy("h")
        .agg(
            F.count("*").alias("n_copies"),
            F.sum("n_chars").alias("chars_all"),
            F.min_by("n_chars", "doc_id").alias("chars_kept"),
        )
    )
    bucket = (
        F.when(F.col("n_copies") == 1, "unique")
        .when(F.col("n_copies") <= 3, "x2_x3")
        .otherwise("x4_plus")
    )
    want = sorted(
        tuple(r)
        for r in g.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("n_copies").alias("n_docs"),
            F.sum("chars_all").alias("n_chars"),
            F.sum(F.col("chars_all") - F.col("chars_kept")).alias(
                "chars_redundant"
            ),
        )
        .collect()
    )
    got = sorted(
        tuple(r) for r in sink.dup_inflation_report().collect()
    )
    assert got == want and got
    # the x4_plus bucket exists (4 copies of dup) and reports savings
    assert any(r[0] == "x4_plus" and r[4] > 0 for r in got)
    # report survives compaction unchanged
    sink.compact()
    assert (
        sorted(tuple(r) for r in sink.dup_inflation_report().collect())
        == want
    )


def test_v1_exact_store_is_refused_not_misread(spark, tmp_path):
    """A pre-v2 store (no chars columns) must fail LOUDLY on read —
    back-filling nulls would corrupt every character sum downstream.
    The deliberate break is documented in exact_stream.py."""
    import pytest

    from data_engineering_project_spotify_app_spark.streaming.exact_stream import (
        StreamingExactDedupSink,
    )

    out = str(tmp_path / "state_v1")
    sink = StreamingExactDedupSink(spark, out)
    # hand-write a v1-format delta (the old 3-column schema) + marker
    spark.createDataFrame(
        [("aa", 1, 2)], "text_hash string, keep_id long, n_copies long"
    ).write.parquet(os.path.join(out, "exact_e0"))
    sink._mark(os.path.join(out, "exact_e0"))
    with pytest.raises(ValueError, match="format v1"):
        sink.current_state()


def test_v1_exact_chain_is_refused_at_write_time(spark, tmp_path):
    """Appending a v2 delta to an existing v1 chain must fail BEFORE the
    first mixed file lands (ADVICE r10: read-time detection is schema-
    inference-order dependent — a v2 file can win inference, surface v1
    rows as null chars, pass the column check, and silently corrupt the
    sums). The write-time guard makes the mixed chain unconstructable."""
    import pytest

    from data_engineering_project_spotify_app_spark.streaming.exact_stream import (
        StreamingExactDedupSink,
    )

    out = str(tmp_path / "state_v1_chain")
    sink = StreamingExactDedupSink(spark, out)
    spark.createDataFrame(
        [("aa", 1, 2)], "text_hash string, keep_id long, n_copies long"
    ).write.parquet(os.path.join(out, "exact_e0"))
    sink._mark(os.path.join(out, "exact_e0"))
    batch = spark.createDataFrame(
        [(10, "hello"), (11, "hello")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="format v1"):
        sink(batch, 1)
    # nothing mixed was written: the v1 delta is the chain's only epoch
    assert sink.committed_delta_epochs() == [0]
    assert not os.path.isdir(os.path.join(out, "exact_e1"))
    # ids guard log also untouched (the guard write comes after the check)
    assert not os.path.isdir(os.path.join(out, "ids_e1"))


def _batch_winnow_pairs(spark, docs_df, fingerprints_fn=None):
    from pyspark.sql import functions as F

    from data_engineering_project_spotify_app_spark.operators.dedup import (
        winnow_fingerprints_df,
    )

    fp = (fingerprints_fn or winnow_fingerprints_df)(docs_df)
    a = fp.select("fp", F.col("doc_id").alias("doc_a"))
    b = fp.select(
        F.col("fp").alias("fp_b"), F.col("doc_id").alias("doc_b")
    )
    return sorted(
        tuple(r)
        for r in a.join(
            b,
            (F.col("fp") == F.col("fp_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .collect()
    )


def test_streamed_winnow_pairs_equal_batch_any_split(spark, tmp_path):
    """Winnowing fingerprints are per-doc pure functions, so the union
    of the per-epoch pair logs must equal the batch shared-pair set for
    ANY micro-batch split — every pair lands once, in its later
    member's epoch, with its FULL n_shared (the store holds all earlier
    fingerprints). Replays and re-deliveries are no-ops; compaction
    folds the store and the pair logs without changing either."""
    from data_engineering_project_spotify_app_spark.streaming.winnow_stream import (
        StreamingWinnowSink,
    )

    docs = _corpus(spark, n=60)
    dup = docs[0][1]
    splits = [
        docs[40:60] + [(9100, dup)],
        docs[:20],
        docs[20:40] + [(9101, dup)],
    ]
    out = str(tmp_path / "winnow_state")
    sink = StreamingWinnowSink(spark, out)
    for e, batch in enumerate(splits):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    full = spark.createDataFrame(
        [d for s in splits for d in s], DOC_SCHEMA
    )
    want = _batch_winnow_pairs(spark, full)
    got = sorted(tuple(r) for r in sink.pairs().collect())
    assert got == want and got
    # the exact-duplicate trio shares its whole fingerprint set
    fps0 = {
        r["fp"]
        for r in sink.current_fingerprints()
        .filter("doc_id = 9100")
        .collect()
    }
    assert (docs[0][0], 9100) in {(a, b) for a, b, _ in got}
    assert fps0
    # replay + cross-epoch re-delivery: no-ops
    sink(spark.createDataFrame(splits[1], DOC_SCHEMA), 1)
    sink(spark.createDataFrame(splits[0][:5], DOC_SCHEMA), 3)
    assert sorted(tuple(r) for r in sink.pairs().collect()) == want
    # compact folds store + pair logs, state unchanged
    assert sink.compact() == [0, 1, 2, 3]
    names = os.listdir(out)
    assert [d for d in names if d.startswith("wfp_e")] == []  # folded
    assert [d for d in names if d.startswith("base_v")] != []
    assert [d for d in names if d.startswith("pairs_e")] == []  # folded
    assert len([d for d in names if d.startswith("pairs_base")]) == 1
    assert sorted(tuple(r) for r in sink.pairs().collect()) == want
    # post-compaction ingest still pairs against the folded store
    extra = [(9200, dup)]
    sink(spark.createDataFrame(extra, DOC_SCHEMA), 4)
    got2 = {(a, b) for a, b, _ in sink.pairs().collect()}
    assert (9100, 9200) in got2 and (docs[0][0], 9200) in got2


def test_streamed_exact_dedup_via_real_stream(spark, tmp_path):
    from data_engineering_project_spotify_app_spark.streaming.exact_stream import (
        StreamingExactDedupSink,
    )

    docs = _corpus(spark, n=50)
    src = str(tmp_path / "src")
    os.makedirs(src)
    _drop_docs(src, "b0.json", docs[:25])
    stream = stream_documents(spark, src, max_files_per_trigger=1)
    out = str(tmp_path / "state")
    sink = StreamingExactDedupSink(spark, out)
    q = attach(stream, sink, "exact_stream1")
    try:
        q.processAllAvailable()
        _drop_docs(src, "b1.json", docs[25:])
        time.sleep(0.1)
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in sink.current_state().collect())
    assert got == _batch_exact(spark, src)

def test_exact_guard_ids_fold_on_compact(spark, tmp_path):
    """compact() must fold the per-epoch ids guard logs into a single
    ids base (bounded file count over a long-lived stream) WITHOUT
    weakening the guard: a doc_id ingested before the fold is still
    rejected when re-delivered in a post-compaction epoch."""
    from data_engineering_project_spotify_app_spark.streaming.exact_stream import (
        StreamingExactDedupSink,
    )

    docs = _corpus(spark, n=60)
    out = str(tmp_path / "state")
    sink = StreamingExactDedupSink(spark, out)
    for e, batch in enumerate([docs[:20], docs[20:40], docs[40:]]):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    assert len([d for d in os.listdir(out) if d.startswith("ids_e")]) == 3
    before = sorted(tuple(r) for r in sink.current_state().collect())
    assert sink.compact() == [0, 1, 2]
    names = os.listdir(out)
    assert [d for d in names if d.startswith("ids_e")] == []
    assert [d for d in names if d.startswith("ids_base")] == ["ids_base2"]
    # guard survives the fold: re-deliver pre-fold ids in a new epoch
    sink(spark.createDataFrame(docs[:10], DOC_SCHEMA), 3)
    assert sorted(tuple(r) for r in sink.current_state().collect()) == before
    # post-fold ingest of genuinely new docs still lands and re-compacts
    sink(
        spark.createDataFrame([(9100, "post fold brand new doc")], DOC_SCHEMA),
        4,
    )
    assert sink.current_state().count() == len(before) + 1
    sink.compact()
    names = os.listdir(out)
    assert [d for d in names if d.startswith("ids_e")] == []
    assert [d for d in names if d.startswith("ids_base")] == ["ids_base4"]
    # second-fold guard: epoch-3 ids (rejected re-deliveries are still
    # logged as seen) + epoch-4 ids folded; re-deliver again
    sink(spark.createDataFrame(docs[10:20], DOC_SCHEMA), 5)
    assert sink.current_state().count() == len(before) + 1


def test_line_dedup_docs_log_fold_preserves_clean_docs(spark, tmp_path):
    """The docs logs are OUTPUT (clean_docs unions them) and guard input;
    folding them into docs_base must leave clean_docs() bit-identical
    and keep the re-delivery guard sound."""
    from data_engineering_project_spotify_app_spark.streaming.linedup_stream import (
        StreamingLineDedupSink,
    )

    boiler = "cookie banner boilerplate line"
    out = str(tmp_path / "state")
    sink = StreamingLineDedupSink(spark, out)
    for e in range(3):
        rows = [
            (e * 10 + i, f"{boiler} unique tail {e * 10 + i}")
            for i in range(4)
        ]
        sink(spark.createDataFrame(rows, DOC_SCHEMA), e)
    docs_before = sorted(tuple(r) for r in sink.clean_docs().collect())
    assert sink.compact() == [0, 1, 2]
    names = os.listdir(out)
    assert [d for d in names if d.startswith("docs_e")] == []
    assert [d for d in names if d.startswith("docs_base")] == ["docs_base2"]
    assert (
        sorted(tuple(r) for r in sink.clean_docs().collect()) == docs_before
    )
    # guard survives: re-deliver a folded doc_id in a new epoch — it must
    # not be re-logged (clean_docs would return it twice)
    rows0 = [(0, f"{boiler} unique tail 0")]
    sink(spark.createDataFrame(rows0, DOC_SCHEMA), 3)
    assert (
        sorted(tuple(r) for r in sink.clean_docs().collect()) == docs_before
    )

def test_auto_compaction_bounds_chain_and_preserves_state(spark, tmp_path):
    """auto_compact_every=N folds the chain from inside foreachBatch:
    after many epochs the store never holds more than N committed
    deltas (plus the base), guard/output logs stay folded, and the
    state equals the batch recompute — no operator intervention."""
    from data_engineering_project_spotify_app_spark.streaming.exact_stream import (
        StreamingExactDedupSink,
    )
    from data_engineering_project_spotify_app_spark.streaming.dedup_stream import (
        StreamingLshDedupSink,
    )

    docs = _corpus(spark, n=120)
    splits = [docs[i * 20:(i + 1) * 20] for i in range(6)]
    out = str(tmp_path / "exact")
    sink = StreamingExactDedupSink(spark, out, auto_compact_every=2)
    for e, batch in enumerate(splits):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
        assert len(sink.committed_delta_epochs()) < 2
    names = os.listdir(out)
    assert [d for d in names if d.startswith("ids_e")] == []
    assert sink._base_epoch() == 5
    got = sorted(tuple(r) for r in sink.current_state().collect())
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, batch in enumerate(splits):
        _drop_docs(src, f"b{i}.json", batch)
    assert got == _batch_exact(spark, src)
    # LSH twin: pairs survive the rolling folds byte-identically
    out2 = str(tmp_path / "lsh")
    sink2 = StreamingLshDedupSink(spark, out2, auto_compact_every=3)
    for e, batch in enumerate(splits):
        sink2(spark.createDataFrame(batch, DOC_SCHEMA), e)
    got_pairs = sorted(tuple(r) for r in sink2.pairs().collect())
    full = spark.read.schema(DOC_SCHEMA).json(src)
    want_pairs = sorted(
        tuple(r)
        for r in minhash_candidate_pairs_df(
            minhash_signatures_df(full)
        ).collect()
    )
    assert got_pairs == want_pairs and got_pairs
    assert len(sink2.committed_delta_epochs()) < 3

def test_fold_log_reclaims_crash_debris(spark, tmp_path):
    """A fold that crashed between committing the new ids base and
    sweeping the old dirs leaves debris (folded per-epoch logs + the
    superseded base); the NEXT fold must reclaim it, and the guard view
    must be unchanged throughout."""
    import shutil

    from data_engineering_project_spotify_app_spark.streaming.exact_stream import (
        StreamingExactDedupSink,
    )

    docs = _corpus(spark, n=60)
    out = str(tmp_path / "state")
    sink = StreamingExactDedupSink(spark, out)
    for e, batch in enumerate([docs[:20], docs[20:40]]):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    sink.compact()  # folds ids to ids_base1
    ids_before = sorted(
        tuple(r) for r in sink.read_log("ids_e").collect()
    )
    # simulate the crashed NEXT fold: epoch 2 lands, then a fold wrote
    # and committed ids_base2 but died before sweeping ids_e2/ids_base1
    sink(spark.createDataFrame(docs[40:], DOC_SCHEMA), 2)
    all_ids = sink.spark.read.parquet(
        os.path.join(out, "ids_base1"), os.path.join(out, "ids_e2")
    ).distinct()
    all_ids.write.mode("overwrite").parquet(os.path.join(out, "ids_base2"))
    sink._mark(os.path.join(out, "ids_base2"))
    # debris present: ids_e2 AND ids_base1 still on disk
    names = set(os.listdir(out))
    assert {"ids_e2", "ids_base1", "ids_base2"} <= names
    # the guard view reads only the newest base (no duplicates)
    want_ids = sorted(
        tuple(r) for r in sink.read_log("ids_e").distinct().collect()
    )
    assert len(want_ids) == len(ids_before) + 20
    # next compact (folds epoch 2's store delta) sweeps the ids debris
    sink.compact()
    names = set(os.listdir(out))
    assert "ids_e2" not in names and "ids_base1" not in names
    assert "ids_base2" in names
    assert sorted(
        tuple(r) for r in sink.read_log("ids_e").distinct().collect()
    ) == want_ids
    shutil.rmtree(out, ignore_errors=True)


def test_streamed_word_winnow_pairs_equal_batch(spark, tmp_path):
    """The winnowing maintainer is granularity-generic: the WORD-gram
    fingerprint head rides the same sink via fingerprints_fn, and the
    union of per-epoch pair logs equals the batch word-gram pair set
    for an arbitrary split (per-doc pure map => split-invariant)."""
    from data_engineering_project_spotify_app_spark.operators.dedup import (
        winnow_word_fingerprints_df,
    )
    from data_engineering_project_spotify_app_spark.streaming.winnow_stream import (
        StreamingWinnowSink,
    )

    docs = _corpus(spark, n=60)
    dup = docs[0][1]
    splits = [docs[30:60], docs[:30] + [(9300, dup)]]
    out = str(tmp_path / "winnow_word_state")
    sink = StreamingWinnowSink(
        spark, out, fingerprints_fn=winnow_word_fingerprints_df
    )
    for e, batch in enumerate(splits):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    full = spark.createDataFrame(
        [d for s in splits for d in s], DOC_SCHEMA
    )
    want = _batch_winnow_pairs(
        spark, full, fingerprints_fn=winnow_word_fingerprints_df
    )
    got = sorted(tuple(r) for r in sink.pairs().collect())
    assert got == want and got
    # the injected exact duplicate pairs with its source doc
    assert (docs[0][0], 9300) in {(a, b) for a, b, _ in got}
    # replay: no-op
    sink(spark.createDataFrame(splits[0], DOC_SCHEMA), 0)
    assert sorted(tuple(r) for r in sink.pairs().collect()) == want
