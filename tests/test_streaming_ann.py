"""Streaming IVF index maintenance: search over the streamed index must
equal the batch q_ann_ivf result exactly — assignment with fixed
centroids is split-invariant — across micro-batch splits, replays, and
compactions.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.operators import registry
from data_engineering_project_spotify_app_spark.streaming.ann_stream import (
    VEC_SCHEMA,
    StreamingIvfIndexSink,
    deterministic_centroids,
    stream_vectors,
)
from data_engineering_project_spotify_app_spark.streaming.sinks import attach

registry.load_all_modules()

SF = "/root/testdata/sf0.001"


def _vectors(spark):
    """(vec_id, [doubles]) rows — cast through Spark so the NDJSON
    doubles are bit-identical to the batch operator's float→double
    cast (json float repr round-trips exactly)."""
    rows = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    return [(r.vec_id, list(r.v)) for r in rows]


def _drop_vecs(src, name, rows):
    # atomic drop (write-then-rename): see test_streaming_dedup._drop_docs
    tmp = os.path.join(src, f".{name}.tmp")
    with open(tmp, "w") as fh:
        for vec_id, v in rows:
            fh.write(json.dumps({"vec_id": vec_id, "embedding": v}) + "\n")
    os.rename(tmp, os.path.join(src, name))


def _batch_want(spark):
    return sorted(
        tuple(r)
        for r in registry.QUERIES["q_ann_ivf"](spark, SF).collect()
    )


def _centroids_from(spark, vecs):
    # production path, zero duplicated math: normalize with the module's
    # own _normed and select centroids with the shared quantizer helper
    from data_engineering_project_spotify_app_spark.streaming.ann_stream import (
        _normed,
    )

    return deterministic_centroids(
        _normed(spark.createDataFrame(vecs, VEC_SCHEMA))
    )


def test_streamed_index_search_equals_batch(spark, tmp_path):
    vecs = _vectors(spark)
    src = str(tmp_path / "src")
    os.makedirs(src)
    splits = [vecs[:100], vecs[100:350], vecs[350:]]
    _drop_vecs(src, "b0.json", splits[0])
    cent = _centroids_from(spark, vecs)
    out = str(tmp_path / "index")
    sink = StreamingIvfIndexSink(spark, out, cent)
    q = attach(stream_vectors(spark, src), sink, "ann_stream1")
    try:
        q.processAllAvailable()
        for i, batch in enumerate(splits[1:], start=1):
            _drop_vecs(src, f"b{i}.json", batch)
            time.sleep(0.1)
            q.processAllAvailable()
    finally:
        q.stop()
    assert len(sink.committed_delta_epochs()) >= 3
    got = sorted(tuple(r) for r in sink.search().collect())
    want = _batch_want(spark)
    assert want, "batch q_ann_ivf returned nothing — test is vacuous"
    assert got == want
    # the stored assignments equal the batch assignment (spot check:
    # every stored vector has exactly one cid)
    idx = sink.current_index()
    assert idx.count() == len(vecs)
    assert idx.select("vec_id").distinct().count() == len(vecs)


def test_replay_and_compaction_preserve_search(spark, tmp_path):
    vecs = _vectors(spark)
    out = str(tmp_path / "index")
    cent = _centroids_from(spark, vecs)
    sink = StreamingIvfIndexSink(spark, out, cent)
    splits = [vecs[:200], vecs[200:400], vecs[400:]]
    for e, batch in enumerate(splits):
        sink(spark.createDataFrame(batch, VEC_SCHEMA), e)
    want = _batch_want(spark)
    assert sorted(tuple(r) for r in sink.search().collect()) == want
    # replay an epoch: no-op
    sink(spark.createDataFrame(splits[1], VEC_SCHEMA), 1)
    assert sink.current_index().count() == len(vecs)
    # compact, replay a folded epoch, then ingest a new vector
    assert sink.compact() == [0, 1, 2]
    assert sink._base_epoch() == 2
    sink(spark.createDataFrame(splits[0], VEC_SCHEMA), 0)  # folded: no-op
    assert sink.current_index().count() == len(vecs)
    assert sorted(tuple(r) for r in sink.search().collect()) == want
    # a genuinely new vector lands in the index and is searchable:
    # duplicate QUERY vector 2 (queries are vec_id < IVF_QUERIES); the
    # copy is assigned to 2's own nearest list, which query 2 probes at
    # rank 1, and scores sim 1.0 — it must appear among 2's neighbors
    new_vec = (99999, list(vecs[2][1]))
    sink(spark.createDataFrame([new_vec], VEC_SCHEMA), 3)
    idx = sink.current_index()
    assert idx.count() == len(vecs) + 1
    got = {
        (r.query_id, r.neighbor_id): r.sim
        for r in sink.search(topk=500).collect()
    }
    assert got.get((2, 99999)) == 1.0


def test_duplicate_reingest_is_ignored(spark, tmp_path):
    """A backfill re-delivering already-indexed vec_ids in a LATER
    epoch must not duplicate index rows (a doubled row would emit the
    same neighbor twice and evict a true top-k hit)."""
    vecs = _vectors(spark)
    out = str(tmp_path / "index")
    cent = _centroids_from(spark, vecs)
    sink = StreamingIvfIndexSink(spark, out, cent)
    sink(spark.createDataFrame(vecs[:300], VEC_SCHEMA), 0)
    # epoch 1 re-delivers 100 already-stored vectors + 200 new ones,
    # with one vec duplicated WITHIN the batch too
    batch1 = vecs[200:500] + [vecs[250]]
    sink(spark.createDataFrame(batch1, VEC_SCHEMA), 1)
    idx = sink.current_index()
    assert idx.count() == len(vecs)
    assert idx.select("vec_id").distinct().count() == len(vecs)
    assert sorted(tuple(r) for r in sink.search().collect()) == _batch_want(
        spark
    )


def test_search_topk_flows_into_probe_ranking(spark, tmp_path):
    """search(topk=T) must return T neighbors per query for T above the
    batch default — topk has to flow INTO probed_search (which filters
    rnk <= topk internally); a post-hoc filter on its output silently
    truncates every search to the default k."""
    from data_engineering_project_spotify_app_spark.operators.ivf import (
        IVF_TOPK,
    )

    vecs = _vectors(spark)
    out = str(tmp_path / "index")
    cent = _centroids_from(spark, vecs)
    sink = StreamingIvfIndexSink(spark, out, cent)
    sink(spark.createDataFrame(vecs, VEC_SCHEMA), 0)
    topk = IVF_TOPK + 7
    per_query = (
        sink.search(topk=topk)
        .groupBy("query_id")
        .count()
        .collect()
    )
    assert per_query, "search returned nothing — test is vacuous"
    assert all(r["count"] == topk for r in per_query), per_query
    assert max(r["count"] for r in per_query) > IVF_TOPK


def test_rebuild_equals_fresh_batch_build(spark, tmp_path):
    """Centroid re-train = index rebuild: search over the rebuilt store
    must equal the batch build-and-search DAG (probed_search with
    in-plan assignment) on the SAME new centroids, exactly. Also pins:
    the old index dir is untouched, a pre-rebuild epoch replayed on
    the new sink no-ops, and a genuinely new post-rebuild epoch lands
    on the new centroids."""
    from data_engineering_project_spotify_app_spark.operators.ivf import (
        probed_search,
    )
    from data_engineering_project_spotify_app_spark.streaming.ann_stream import (
        _normed,
        retrain_centroids,
    )

    vecs = _vectors(spark)
    out = str(tmp_path / "index")
    cent = _centroids_from(spark, vecs)
    sink = StreamingIvfIndexSink(spark, out, cent)
    splits = [vecs[:200], vecs[200:450], vecs[450:]]
    # compact between epochs so the rebuild reads the MIXED store shape
    # (base folding epochs 0-1, epoch 2 still a live delta)
    sink(spark.createDataFrame(splits[0], VEC_SCHEMA), 0)
    sink(spark.createDataFrame(splits[1], VEC_SCHEMA), 1)
    sink.compact()
    sink(spark.createDataFrame(splits[2], VEC_SCHEMA), 2)
    old_store = sorted(
        tuple(r) for r in sink.current_index().collect()
    )

    new_cent = retrain_centroids(sink.current_index(), k=4)
    sink2 = sink.rebuild_index(str(tmp_path / "index2"), centroids=new_cent)
    got = sorted(tuple(r) for r in sink2.search().collect())
    n = _normed(spark.createDataFrame(vecs, VEC_SCHEMA))
    want = sorted(
        tuple(r) for r in probed_search(n, new_cent).collect()
    )
    assert want, "batch search returned nothing — test is vacuous"
    assert got == want
    # the old index is untouched (crash mid-rebuild keeps it live)
    assert sorted(
        tuple(r) for r in sink.current_index().collect()
    ) == old_store
    # replay of a pre-rebuild epoch on the new sink: base >= epoch, no-op
    before = sink2.current_index().count()
    sink2(spark.createDataFrame(splits[1], VEC_SCHEMA), 1)
    assert sink2.current_index().count() == before
    # a post-rebuild epoch lands as a delta on the new base, assigned
    # with the NEW centroids — searched identically to a batch build
    # over the widened corpus
    extra = [(99999, list(vecs[2][1]))]
    sink2(spark.createDataFrame(extra, VEC_SCHEMA), 3)
    assert sink2.current_index().count() == before + 1
    n_all = _normed(spark.createDataFrame(vecs + extra, VEC_SCHEMA))
    want_all = sorted(
        tuple(r) for r in probed_search(n_all, new_cent).collect()
    )
    assert sorted(tuple(r) for r in sink2.search().collect()) == want_all


def test_rebuild_refuses_in_place(spark, tmp_path):
    import pytest as _pytest

    vecs = _vectors(spark)
    out = str(tmp_path / "index")
    sink = StreamingIvfIndexSink(spark, out, _centroids_from(spark, vecs))
    sink(spark.createDataFrame(vecs[:50], VEC_SCHEMA), 0)
    with _pytest.raises(ValueError, match="fresh out_dir"):
        sink.rebuild_index(out)


def test_rebuild_keeps_auto_compaction(spark, tmp_path):
    """The rebuilt sink compacts on the old sink's cadence: with
    auto_compact_every=2, the second post-rebuild epoch folds the
    delta chain into the base."""
    vecs = _vectors(spark)[:200]
    cent = _centroids_from(spark, vecs)
    sink = StreamingIvfIndexSink(
        spark, str(tmp_path / "index"), cent, auto_compact_every=2
    )
    sink(spark.createDataFrame(vecs[:100], VEC_SCHEMA), 0)
    sink2 = sink.rebuild_index(str(tmp_path / "index2"), centroids=cent)
    assert sink2.auto_compact_every == 2
    sink2(spark.createDataFrame(vecs[100:150], VEC_SCHEMA), 1)
    assert sink2.committed_delta_epochs() == [1]
    sink2(spark.createDataFrame(vecs[150:], VEC_SCHEMA), 2)
    assert sink2.committed_delta_epochs() == []
    assert sink2._base_epoch() == 2
    assert sink2.current_index().count() == len(vecs)


def test_rebuild_swap_under_concurrent_ingest(spark, tmp_path):
    """The documented swap protocol under CONCURRENT ingest: epochs
    that commit to the OLD sink between the rebuild snapshot and the
    swap are folded into the new store by catch_up() — reassigned under
    the new centroids at their ORIGINAL epoch ids, so the shared
    checkpoint's ids stay monotone, a replay of a caught-up epoch
    no-ops, and the final index equals a fresh batch build over the
    whole corpus."""
    from data_engineering_project_spotify_app_spark.operators.ivf import (
        probed_search,
    )
    from data_engineering_project_spotify_app_spark.streaming.ann_stream import (
        _normed,
        retrain_centroids,
    )

    vecs = _vectors(spark)
    out = str(tmp_path / "index")
    cent = _centroids_from(spark, vecs[:450])
    sink = StreamingIvfIndexSink(spark, out, cent)
    sink(spark.createDataFrame(vecs[:200], VEC_SCHEMA), 0)
    sink(spark.createDataFrame(vecs[200:400], VEC_SCHEMA), 1)
    # snapshot: rebuild sees epochs 0-1 only
    new_cent = retrain_centroids(sink.current_index(), k=4)
    sink2 = sink.rebuild_index(str(tmp_path / "index2"), centroids=new_cent)
    # ... while epochs 2 and 3 keep landing on the OLD sink
    sink(spark.createDataFrame(vecs[400:450], VEC_SCHEMA), 2)
    sink(spark.createDataFrame(vecs[450:], VEC_SCHEMA), 3)
    # swap: stop old query (simulated), catch up, idempotent on retry
    assert sink2.catch_up(sink) == [2, 3]
    assert sink2.catch_up(sink) == []  # crash-and-retry safe
    # monotone epoch ids: rebuilt base at 1, caught-up deltas at 2, 3
    assert sink2._base_epoch() == 1
    assert sink2.committed_delta_epochs() == [2, 3]
    # a replay of a caught-up epoch no-ops against the new markers
    before = sink2.current_index().count()
    sink2(spark.createDataFrame(vecs[400:450], VEC_SCHEMA), 2)
    assert sink2.current_index().count() == before
    # the swapped store equals a fresh batch build over the WHOLE corpus
    n_all = _normed(spark.createDataFrame(vecs, VEC_SCHEMA))
    want = sorted(tuple(r) for r in probed_search(n_all, new_cent).collect())
    assert want, "batch search returned nothing — test is vacuous"
    assert sorted(tuple(r) for r in sink2.search().collect()) == want
    # post-swap ingest continues monotone on the new sink
    extra = [(88888, list(vecs[5][1]))]
    sink2(spark.createDataFrame(extra, VEC_SCHEMA), 4)
    assert sink2.current_index().count() == before + 1


def test_streamed_srp_bucket_landing_source_balance_equals_batch(
    spark, tmp_path
):
    """Streaming twin of q_cluster_source_balance (VERDICT r11 item 8):
    the SRP cluster assignment is a per-vector pure map, so it rides
    the generic doc-landing maintainer; the balance report computed
    over the maintained (vec_id, bucket) landing equals the batch
    query exactly — across an arbitrary split, duplicate re-delivery,
    and replay."""
    from data_engineering_project_spotify_app_spark.operators.similarity import (
        source_balance_from_buckets,
        srp_buckets_df,
    )
    from data_engineering_project_spotify_app_spark.streaming.landing_stream import (
        StreamingDocLandingSink,
    )

    vecs = [(vid, v) for vid, v in _vectors(spark)]
    schema = "doc_id long, v array<double>"

    def _srp_transform(batch):
        return (
            srp_buckets_df(
                batch.select(F.col("doc_id").alias("vec_id"), "v")
            )
            .select(F.col("vec_id").alias("doc_id"), "bucket")
        )

    out = str(tmp_path / "srp_buckets")
    sink = StreamingDocLandingSink(spark, out, _srp_transform)
    third = len(vecs) // 3
    splits = [
        vecs[2 * third:],
        vecs[:third] + vecs[2 * third:2 * third + 5],  # dup re-delivery
        vecs[third:2 * third],
    ]
    for e, batch in enumerate(splits):
        sink(spark.createDataFrame(batch, schema), e)
    landing = sink.current_landing().select(
        F.col("doc_id").alias("vec_id"), "bucket"
    )
    got = sorted(
        tuple(r)
        for r in source_balance_from_buckets(spark, SF, landing).collect()
    )
    want = sorted(
        tuple(r)
        for r in registry.QUERIES["q_cluster_source_balance"](
            spark, SF
        ).collect()
    )
    assert got == want and got
    # replay: no-op
    sink(spark.createDataFrame(splits[0], schema), 0)
    landing2 = sink.current_landing().select(
        F.col("doc_id").alias("vec_id"), "bucket"
    )
    got2 = sorted(
        tuple(r)
        for r in source_balance_from_buckets(spark, SF, landing2).collect()
    )
    assert got2 == want
