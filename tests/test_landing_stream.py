"""Incremental maintenance for the shared at-rest landings
(streaming/landing_stream.py): streamed landing == batch-rebuilt
landing across arbitrary micro-batch splits and restarts, and the
batch consumers reading a published (seeded) maintained landing still
hash-match their DuckDB oracles.
"""

from __future__ import annotations

import json
import os
import time

from data_engineering_project_spotify_app_spark.operators import registry
from data_engineering_project_spotify_app_spark.operators.dedup import (
    minhash_signatures_df,
    simhash_signatures_df,
)
from data_engineering_project_spotify_app_spark.operators.graphs import (
    basket_edges,
)
from data_engineering_project_spotify_app_spark.streaming.dedup_stream import (
    DOC_SCHEMA,
    stream_documents,
)
from data_engineering_project_spotify_app_spark.streaming.landing_stream import (
    StreamingBasketLandingSink,
    StreamingDocLandingSink,
)
from data_engineering_project_spotify_app_spark.streaming.sinks import attach

from tests.oracle_harness import compare

registry.load_all_modules()

SF = "/root/testdata/sf0.001"


def _docs(spark, n=120):
    rows = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(n)
        .collect()
    )
    return [(r.doc_id, r.text) for r in rows]


def _sig_transform(batch):
    return minhash_signatures_df(batch.select("doc_id", "text"))


def test_streamed_signature_landing_equals_batch_any_split(spark, tmp_path):
    """Per-doc map landings are split-invariant: ANY micro-batch split
    (including out-of-order and duplicate re-delivery) must produce the
    batch-identical signature frame."""
    docs = _docs(spark)
    splits = [docs[80:], docs[:40] + docs[80:90], docs[40:80]]  # dups too
    out = str(tmp_path / "sigs")
    sink = StreamingDocLandingSink(spark, out, _sig_transform)
    for e, batch in enumerate(splits):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    got = sorted(tuple(r) for r in sink.current_landing().collect())
    want = sorted(
        tuple(r)
        for r in minhash_signatures_df(
            spark.createDataFrame(docs, DOC_SCHEMA)
        ).collect()
    )
    assert got == want and got
    # replay: no-op
    sink(spark.createDataFrame(splits[1], DOC_SCHEMA), 1)
    assert sorted(tuple(r) for r in sink.current_landing().collect()) == want
    # compact folds deltas + ids logs; landing unchanged, replays no-op
    assert sink.compact() == [0, 1, 2]
    names = os.listdir(out)
    assert [d for d in names if d.startswith("ids_e")] == []
    assert sorted(tuple(r) for r in sink.current_landing().collect()) == want
    sink(spark.createDataFrame(splits[0], DOC_SCHEMA), 0)
    assert sorted(tuple(r) for r in sink.current_landing().collect()) == want
    # post-compaction ingest still lands incrementally
    extra = [(990001, "a brand new streamed landing document")]
    sink(spark.createDataFrame(extra, DOC_SCHEMA), 3)
    assert sink.current_landing().count() == len(want) + 1


def test_doc_landing_duplicate_reingest_is_ignored(spark, tmp_path):
    """A later epoch re-delivering only stored doc_ids, one of them
    twice within the batch, adds no landing rows (the doc-landing twin
    of test_lsh_duplicate_reingest_is_ignored)."""
    docs = _docs(spark, n=60)
    out = str(tmp_path / "sigs")
    sink = StreamingDocLandingSink(spark, out, _sig_transform)
    sink(spark.createDataFrame(docs[:40], DOC_SCHEMA), 0)
    sink(spark.createDataFrame(docs[40:], DOC_SCHEMA), 1)
    want = sorted(
        tuple(r)
        for r in minhash_signatures_df(
            spark.createDataFrame(docs, DOC_SCHEMA)
        ).collect()
    )
    assert sorted(tuple(r) for r in sink.current_landing().collect()) == want
    sink(spark.createDataFrame(docs[10:50] + [docs[45]], DOC_SCHEMA), 2)
    assert sink.committed_delta_epochs() == [0, 1, 2]
    assert sorted(tuple(r) for r in sink.current_landing().collect()) == want


def test_published_signature_landing_consumer_matches_oracle(
    spark, tmp_path
):
    """The end-to-end bar: stream the WHOLE corpus through the
    maintainer, publish + seed the landing, then run the registered
    batch consumers — they must still hash-match their DuckDB oracles
    while reading the maintained table."""
    from data_engineering_project_spotify_app_spark.sources import bucketed

    docs = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ]
    third = len(docs) // 3
    out = str(tmp_path / "sigs")
    sink = StreamingDocLandingSink(spark, out, _sig_transform)
    for e, batch in enumerate(
        [docs[:third], docs[third:2 * third], docs[2 * third:]]
    ):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    name = sink.publish(SF, "minhash_signatures")
    try:
        assert spark.catalog.tableExists(name)
        # same bucket count as the batch landings of this corpus
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        (n_buckets,) = [
            r["data_type"] for r in rows if r["col_name"] == "Num Buckets"
        ]
        assert int(n_buckets) == bucketed.corpus_buckets(spark, SF)
        # the consumer must actually READ the published table
        plan = registry.QUERIES["q_minhash_lsh"](
            spark, SF
        )._jdf.queryExecution().executedPlan().toString()
        assert name in plan
        for qname in ("q_minhash_lsh", "q_minhash_jaccard_est"):
            compare(
                spark, SF, qname, registry.QUERIES[qname],
                registry.ORACLES[qname],
            )
    finally:
        bucketed.invalidate_landings(SF)
        bucketed.drop_landed(spark, name)


def test_streamed_simhash_landing_equals_batch(spark, tmp_path):
    """The doc-landing maintainer is transform-generic: the simhash
    fingerprint landing rides the same sink."""
    docs = _docs(spark, n=60)
    out = str(tmp_path / "simhash")
    sink = StreamingDocLandingSink(
        spark, out, lambda b: simhash_signatures_df(b.select("doc_id", "text"))
    )
    for e, batch in enumerate([docs[:25], docs[25:]]):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    got = sorted(tuple(r) for r in sink.current_landing().collect())
    want = sorted(
        tuple(r)
        for r in simhash_signatures_df(
            spark.createDataFrame(docs, DOC_SCHEMA)
        ).collect()
    )
    assert got == want and got


def test_doc_landing_restart_continues_epochs(spark, tmp_path):
    """Stop the query, drop a new file, restart against the same
    out_dir + checkpoint: the restarted query must resume epoch ids and
    process ONLY the new file (the delta-chain exactly-once bar)."""
    docs = _docs(spark, n=90)
    src = str(tmp_path / "src")
    os.makedirs(src)

    def drop(name, rows):
        tmp = os.path.join(src, f".{name}.tmp")
        with open(tmp, "w") as fh:
            for doc_id, text in rows:
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.rename(tmp, os.path.join(src, name))

    drop("b0.json", docs[:30])
    drop("b1.json", docs[30:60])
    out = str(tmp_path / "state")
    stream = stream_documents(spark, src, max_files_per_trigger=1)
    sink = StreamingDocLandingSink(spark, out, _sig_transform)
    q = attach(stream, sink, "landing_restart1")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    epochs_before = set(sink.committed_delta_epochs())
    drop("b2.json", docs[60:])
    time.sleep(0.05)
    stream2 = stream_documents(spark, src, max_files_per_trigger=1)
    sink2 = StreamingDocLandingSink(spark, out, _sig_transform)
    q2 = attach(stream2, sink2, "landing_restart2")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert set(sink2.committed_delta_epochs()) - epochs_before
    got = sorted(tuple(r) for r in sink2.current_landing().collect())
    want = sorted(
        tuple(r)
        for r in minhash_signatures_df(
            spark.createDataFrame(docs, DOC_SCHEMA)
        ).collect()
    )
    assert got == want


LINE_SCHEMA = "l_orderkey long, l_partkey long"


def _lineitems(spark, n_orders=400):
    rows = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    by_order: dict[int, list] = {}
    for r in rows:
        by_order.setdefault(r.l_orderkey, []).append(
            (r.l_orderkey, r.l_partkey)
        )
    orders = sorted(by_order)[:n_orders]
    return orders, by_order


def test_streamed_basket_edge_landing_equals_batch(spark, tmp_path):
    """Baskets and edges streamed over whole-order epochs must equal
    the batch derivation (basket arrays compared as sets; edges are a
    set by construction)."""
    orders, by_order = _lineitems(spark)
    cut1, cut2 = len(orders) // 3, 2 * len(orders) // 3
    splits = [
        [li for o in orders[:cut1] for li in by_order[o]],
        [li for o in orders[cut1:cut2] for li in by_order[o]],
        # re-deliver an already-ingested order alongside new ones: the
        # guard must drop it
        [li for o in orders[cut2:] for li in by_order[o]]
        + by_order[orders[0]],
    ]
    out = str(tmp_path / "baskets")
    sink = StreamingBasketLandingSink(spark, out)
    for e, batch in enumerate(splits):
        sink(spark.createDataFrame(batch, LINE_SCHEMA), e)
    all_rows = [li for o in orders for li in by_order[o]]
    full = spark.createDataFrame(all_rows, LINE_SCHEMA)
    from pyspark.sql import functions as F

    want_baskets = {
        (r.l_orderkey, tuple(sorted(r.ps)))
        for r in full.groupBy("l_orderkey")
        .agg(F.array_distinct(F.collect_list("l_partkey")).alias("ps"))
        .collect()
    }
    got_baskets = {
        (r.l_orderkey, tuple(sorted(r.ps)))
        for r in sink.current_baskets().collect()
    }
    assert got_baskets == want_baskets and got_baskets
    want_edges = sorted(
        tuple(r)
        for r in basket_edges(
            full.groupBy("l_orderkey").agg(
                F.array_distinct(F.collect_list("l_partkey")).alias("ps")
            )
        ).collect()
    )
    got_edges = sorted(tuple(r) for r in sink.current_edges().collect())
    assert got_edges == want_edges and got_edges
    # compact: state unchanged, per-epoch dirs folded
    sink.compact()
    names = os.listdir(out)
    assert [d for d in names if d.startswith("ords_e")] == []
    assert [d for d in names if d.startswith("edges_e")] == []
    assert (
        sorted(tuple(r) for r in sink.current_edges().collect()) == want_edges
    )
    got_baskets2 = {
        (r.l_orderkey, tuple(sorted(r.ps)))
        for r in sink.current_baskets().collect()
    }
    assert got_baskets2 == want_baskets


def test_stranded_staged_dir_reclaimed(spark, tmp_path):
    """A crash between the delta marker and the success-path rmtree
    strands the epoch's staged_e dir; the delta/base sweep never names
    it. Both reclamation paths must collect it: compact() for epochs at
    or below the folded base, and the replay early-return for a
    re-delivered epoch (ADVICE r9 item 5)."""
    orders, by_order = _lineitems(spark)
    rows = [li for o in orders for li in by_order[o]]
    out = str(tmp_path / "baskets_staged")
    sink = StreamingBasketLandingSink(spark, out)
    batch = spark.createDataFrame(rows, LINE_SCHEMA)
    sink(batch, 0)
    # simulate the crash debris: epoch 0 fully durable, staged dir back
    staged = os.path.join(out, "staged_e0")
    os.makedirs(staged, exist_ok=True)
    with open(os.path.join(staged, "part-0.parquet"), "w") as f:
        f.write("debris")
    # replay of the same epoch (restart redelivery) sweeps it
    sink(batch, 0)
    assert not os.path.isdir(staged)
    # and compact() reclaims one that no replay ever touches
    os.makedirs(staged, exist_ok=True)
    sink.compact()
    assert not os.path.isdir(staged)


def test_published_edge_landing_consumer_matches_oracle(spark, tmp_path):
    """Stream the WHOLE lineitem corpus as whole-order epochs, publish
    baskets+edges, and run the registered triangle-family consumers —
    they must hash-match their oracles while reading the maintained
    tables (the adjacency re-derives from the streamed edges)."""
    from data_engineering_project_spotify_app_spark.sources import bucketed

    orders, by_order = _lineitems(spark, n_orders=10**9)
    half = len(orders) // 2
    out = str(tmp_path / "baskets")
    sink = StreamingBasketLandingSink(spark, out)
    for e, keys in enumerate([orders[:half], orders[half:]]):
        batch = [li for o in keys for li in by_order[o]]
        sink(spark.createDataFrame(batch, LINE_SCHEMA), e)
    bname, ename = sink.publish(SF)
    try:
        # the basket consumer must read the published basket table, and
        # the triangle consumers the adjacency RE-DERIVED from the
        # streamed edges (publish dropped the batch-built one)
        plan = registry.QUERIES["q_item_cf"](
            spark, SF
        )._jdf.queryExecution().executedPlan().toString()
        assert bname in plan
        for qname in ("q_triangle_count", "q_clustering_coefficient"):
            compare(
                spark, SF, qname, registry.QUERIES[qname],
                registry.ORACLES[qname],
            )
    finally:
        bucketed.drop_landed(
            spark,
            bname,
            ename,
            bucketed.landing_table_name("oriented_adjacency", SF),
        )
        bucketed.invalidate_landings(SF)


def test_streamed_bigram_landing_equals_batch(spark, tmp_path):
    """Third transform through the generic doc sink: the word-bigram
    shingle landing (doc_id, lang, source, bg) — per-doc pure map, so
    streamed == batch for any split."""
    from data_engineering_project_spotify_app_spark.functions.text import (
        tokens,
    )
    from data_engineering_project_spotify_app_spark.operators.dedup import (
        word_bigrams,
    )
    from pyspark.sql import functions as F

    schema = "doc_id long, text string, lang string, source string"
    rows = [
        (r.doc_id, r.text, r.lang, r.source)
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text", "lang", "source")
        .orderBy("doc_id")
        .limit(90)
        .collect()
    ]

    def transform(b):
        return b.select(
            "doc_id", "lang", "source",
            word_bigrams(tokens(F.col("text"))).alias("bg"),
        )

    out = str(tmp_path / "bigrams")
    sink = StreamingDocLandingSink(spark, out, transform)
    for e, batch in enumerate([rows[:30], rows[30:70], rows[70:]]):
        sink(spark.createDataFrame(batch, schema), e)
    got = sorted(
        (r.doc_id, r.lang, r.source, tuple(r.bg))
        for r in sink.current_landing().collect()
    )
    want = sorted(
        (r.doc_id, r.lang, r.source, tuple(r.bg))
        for r in transform(spark.createDataFrame(rows, schema)).collect()
    )
    assert got == want and got


def test_published_simhash_landing_consumer_matches_oracle(spark, tmp_path):
    """Publish a maintained simhash landing and run the registered
    consumers (q_simhash, q_simhash_hamming) against their oracles."""
    from data_engineering_project_spotify_app_spark.sources import bucketed

    docs = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ]
    out = str(tmp_path / "simhash_pub")
    sink = StreamingDocLandingSink(
        spark, out,
        lambda b: simhash_signatures_df(b.select("doc_id", "text")),
    )
    half = len(docs) // 2
    for e, batch in enumerate([docs[half:], docs[:half]]):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    name = sink.publish(SF, "simhash_signatures")
    try:
        for qname in ("q_simhash", "q_simhash_hamming"):
            compare(
                spark, SF, qname, registry.QUERIES[qname],
                registry.ORACLES[qname],
            )
    finally:
        bucketed.invalidate_landings(SF)
        bucketed.drop_landed(spark, name)


def test_published_winnow_landing_consumer_matches_oracle(spark, tmp_path):
    """Publish parity for the winnowing maintainer (VERDICT r10 item 6):
    stream the corpus through StreamingWinnowSink, publish() the
    fingerprint store as the fp-bucketed landing, and (a) the registered
    q_winnowing_pairs consumer reads the published table AND still
    hash-matches its DuckDB oracle, (b) the fp-keyed aggregate over the
    published table runs with NO Exchange (the bucketing contract)."""
    from data_engineering_project_spotify_app_spark.sources import bucketed
    from data_engineering_project_spotify_app_spark.streaming.winnow_stream import (
        StreamingWinnowSink,
    )

    docs = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ]
    out = str(tmp_path / "winnow_pub")
    sink = StreamingWinnowSink(spark, out)
    third = len(docs) // 3
    for e, batch in enumerate(
        [docs[:third], docs[third:2 * third], docs[2 * third:]]
    ):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    name = sink.publish(SF)
    try:
        assert spark.catalog.tableExists(name)
        q = registry.QUERIES["q_winnowing_pairs"](spark, SF)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert name in plan  # the consumer reads the published table
        compare(
            spark, SF, "q_winnowing_pairs",
            registry.QUERIES["q_winnowing_pairs"],
            registry.ORACLES["q_winnowing_pairs"],
        )
        # fp-keyed aggregate over the published table: exchange-free
        agg_plan = (
            spark.table(name)
            .groupBy("fp")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in agg_plan, agg_plan
    finally:
        bucketed.invalidate_landings(SF)
        bucketed.drop_landed(spark, name)


def test_basket_landing_real_stream_restart(spark, tmp_path):
    """The basket+edge maintainer through a real writeStream: stop the
    query, drop a new whole-order file, restart on the same checkpoint
    — epoch ids resume, only the new file processes, and the final
    baskets/edges equal the batch derivation."""
    from pyspark.sql import functions as F


    orders, by_order = _lineitems(spark, n_orders=300)
    half = len(orders) // 2
    src = str(tmp_path / "src")
    os.makedirs(src)

    def drop(name, keys):
        tmp = os.path.join(src, f".{name}.tmp")
        with open(tmp, "w") as fh:
            for o in keys:
                for ok, pk in by_order[o]:
                    fh.write(
                        json.dumps({"l_orderkey": ok, "l_partkey": pk}) + "\n"
                    )
        os.rename(tmp, os.path.join(src, name))

    drop("b0.json", orders[:half])
    out = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(LINE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    sink = StreamingBasketLandingSink(spark, out)
    q = attach(stream, sink, "basket_restart1")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    epochs_before = set(sink.committed_delta_epochs())
    drop("b1.json", orders[half:])
    time.sleep(0.05)
    stream2 = (
        spark.readStream.schema(LINE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    sink2 = StreamingBasketLandingSink(spark, out)
    q2 = attach(stream2, sink2, "basket_restart2")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert set(sink2.committed_delta_epochs()) - epochs_before
    all_rows = [li for o in orders for li in by_order[o]]
    full = spark.createDataFrame(all_rows, LINE_SCHEMA)
    want_edges = sorted(
        tuple(r)
        for r in basket_edges(
            full.groupBy("l_orderkey").agg(
                F.array_distinct(F.collect_list("l_partkey")).alias("ps")
            )
        ).collect()
    )
    got_edges = sorted(tuple(r) for r in sink2.current_edges().collect())
    assert got_edges == want_edges and got_edges


def test_strict_whole_orders_detects_split_order(spark, tmp_path):
    """strict_whole_orders distinguishes the tolerable case (identical
    re-delivery of a whole order — guarded, no-op) from the silent-
    data-loss case (an order SPLIT across epochs, where dropping the
    re-seen key would lose the second half's parts — refused)."""
    import pytest

    from data_engineering_project_spotify_app_spark.streaming.landing_stream import (
        StreamingBasketLandingSink,
    )

    rows = [(1, 10), (1, 11), (2, 20), (2, 21)]
    out = str(tmp_path / "strict")
    sink = StreamingBasketLandingSink(
        spark, out, strict_whole_orders=True
    )
    sink(spark.createDataFrame(rows, LINE_SCHEMA), 0)
    # identical re-delivery of order 1 alongside a new order: fine
    sink(
        spark.createDataFrame(
            [(1, 10), (1, 11), (3, 30), (3, 31)], LINE_SCHEMA
        ),
        1,
    )
    assert sink.current_baskets().count() == 3
    # order 3 arrives AGAIN with an extra part — a split order; the
    # permissive guard would drop it silently, strict mode refuses
    with pytest.raises(ValueError, match="split across epochs"):
        sink(
            spark.createDataFrame([(3, 30), (3, 31), (3, 32)], LINE_SCHEMA),
            2,
        )
    # the refused epoch left no markers: state intact, epoch retryable
    assert sink.current_baskets().count() == 3
    assert sink.committed_delta_epochs() == [0, 1]


def test_landing_lifecycle_growth_staleness_republish(spark, tmp_path):
    """The full daily-ingest lifecycle, tying the maintainer to the
    fingerprint contract: publish a maintained landing for a corpus,
    GROW the corpus in place (fingerprint changes → the stale seed must
    NOT be served), ingest only the delta, re-publish, and the batch
    consumer matches its oracle at every step."""
    import shutil

    import pyarrow.parquet as pq

    from data_engineering_project_spotify_app_spark.sources import bucketed

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        shutil.copy(f"{SF}/{t}.parquet", f"{corpus}/{t}.parquet")
    full = pq.read_table(f"{SF}/documents.parquet")
    half_n = full.num_rows // 2
    pq.write_table(full.slice(0, half_n), f"{corpus}/documents.parquet")

    docs = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{corpus}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ]
    out = str(tmp_path / "sigs")
    sink = StreamingDocLandingSink(spark, out, _sig_transform)
    sink(spark.createDataFrame(docs[: half_n // 2], DOC_SCHEMA), 0)
    sink(spark.createDataFrame(docs[half_n // 2:], DOC_SCHEMA), 1)
    name = sink.publish(corpus, "minhash_signatures")
    try:
        # step 1: consumer on the half corpus reads the published table
        # and matches its oracle
        plan = registry.QUERIES["q_minhash_lsh"](
            spark, corpus
        )._jdf.queryExecution().executedPlan().toString()
        assert name in plan
        compare(
            spark, corpus, "q_minhash_lsh",
            registry.QUERIES["q_minhash_lsh"],
            registry.ORACLES["q_minhash_lsh"],
        )
        # step 2: corpus grows IN PLACE — the seeded landing is now
        # stale; the fingerprint must route the consumer to a rebuilt
        # batch landing, not the published half-corpus table
        pq.write_table(full, f"{corpus}/documents.parquet")
        plan2 = registry.QUERIES["q_minhash_lsh"](
            spark, corpus
        )._jdf.queryExecution().executedPlan().toString()
        assert name not in plan2
        compare(
            spark, corpus, "q_minhash_lsh",
            registry.QUERIES["q_minhash_lsh"],
            registry.ORACLES["q_minhash_lsh"],
        )
        # step 3: ingest ONLY the delta, re-publish, re-seed — the
        # consumer reads the maintained table again and still matches
        grown = [
            (r.doc_id, r.text)
            for r in spark.read.parquet(f"{corpus}/documents.parquet")
            .select("doc_id", "text")
            .collect()
        ]
        delta = [d for d in grown if d[0] not in {x[0] for x in docs}]
        assert delta
        sink(spark.createDataFrame(delta, DOC_SCHEMA), 2)
        name2 = sink.publish(corpus, "minhash_signatures")
        plan3 = registry.QUERIES["q_minhash_lsh"](
            spark, corpus
        )._jdf.queryExecution().executedPlan().toString()
        assert name2 in plan3
        compare(
            spark, corpus, "q_minhash_lsh",
            registry.QUERIES["q_minhash_lsh"],
            registry.ORACLES["q_minhash_lsh"],
        )
    finally:
        bucketed.invalidate_landings(corpus)
        bucketed.drop_landed(
            spark, name,
            bucketed.landing_table_name("minhash_signatures", corpus),
        )


def test_basket_auto_publish_refreshes_both_landings(spark, tmp_path):
    """publish_to + auto_compact_every on the basket sink: compaction
    from inside foreachBatch re-publishes BOTH the basket and edge
    landings (and refreshes the derived adjacency) with no operator
    calls — the doc sink's hands-off mode, extended to the two-landing
    maintainer (VERDICT r9 stretch item)."""
    from data_engineering_project_spotify_app_spark.sources import bucketed

    orders, by_order = _lineitems(spark)
    cut = len(orders) // 2
    out = str(tmp_path / "autopub_baskets")
    sink = StreamingBasketLandingSink(
        spark, out, auto_compact_every=2, publish_to=SF
    )
    bname = bucketed.landing_table_name("part_baskets", SF) + "_streamed"
    ename = bucketed.landing_table_name("copurchase_edges", SF) + "_streamed"
    try:
        rows0 = [li for o in orders[:cut] for li in by_order[o]]
        rows1 = [li for o in orders[cut:] for li in by_order[o]]
        sink(spark.createDataFrame(rows0, LINE_SCHEMA), 0)
        sink(spark.createDataFrame(rows1, LINE_SCHEMA), 1)
        # epoch 1 triggered compact -> publish: both tables exist and
        # cover every ingested order
        assert spark.catalog.tableExists(bname)
        assert spark.catalog.tableExists(ename)
        assert spark.table(bname).count() == len(orders)
        want_edges = sorted(
            tuple(r) for r in sink.current_edges().collect()
        )
        got_edges = sorted(
            tuple(r)
            for r in spark.table(ename).select("src", "dst").collect()
        )
        assert got_edges == want_edges and got_edges
        # consumers resolve to the published tables via the seeds
        key_b = ("part_baskets", SF, bucketed._warehouse(spark))
        assert bucketed._LANDED[key_b][0] == bname
    finally:
        bucketed.invalidate_landings(SF)
        bucketed.drop_landed(spark, bname, ename)


def test_auto_publish_refreshes_consumer_table(spark, tmp_path):
    """publish_to + auto_compact_every: the maintained landing is
    compacted AND re-published from inside foreachBatch, so the batch
    consumer's table refreshes at compaction cadence with no operator
    calls at all."""
    from data_engineering_project_spotify_app_spark.sources import bucketed

    docs = _docs(spark, n=100)
    out = str(tmp_path / "autopub")
    name = None
    sink = StreamingDocLandingSink(
        spark,
        out,
        _sig_transform,
        auto_compact_every=2,
        publish_to=(SF, "minhash_signatures"),
    )
    try:
        sink(spark.createDataFrame(docs[:30], DOC_SCHEMA), 0)
        sink(spark.createDataFrame(docs[30:60], DOC_SCHEMA), 1)
        # epoch 1 triggered compact -> publish: the seeded table now
        # holds the first 60 docs' signatures
        name = bucketed.landing_table_name("minhash_signatures", SF) + "_streamed"
        assert spark.catalog.tableExists(name)
        assert spark.table(name).count() == len(
            {d[0] for d in docs[:60]}
        )
        # two more epochs -> second auto-publish widens the table
        sink(spark.createDataFrame(docs[60:80], DOC_SCHEMA), 2)
        sink(spark.createDataFrame(docs[80:], DOC_SCHEMA), 3)
        assert spark.table(name).count() == len({d[0] for d in docs})
        # chain stayed bounded throughout
        assert len(sink.committed_delta_epochs()) < 2
    finally:
        bucketed.invalidate_landings(SF)
        if name:
            bucketed.drop_landed(spark, name)


def test_partial_winnow_store_refuses_publish(spark, tmp_path):
    """publish() must not seed a store that has only ingested a prefix
    of the corpus (ADVICE r11 item 3): the landing would be stamped
    fingerprint-fresh while q_winnowing_pairs' DuckDB oracle computes
    over the WHOLE documents table. Completing ingestion unblocks it;
    allow_partial=True is the documented explicit override."""
    import pytest

    from data_engineering_project_spotify_app_spark.sources import bucketed
    from data_engineering_project_spotify_app_spark.streaming.winnow_stream import (
        PartialStoreError,
        StreamingWinnowSink,
    )

    docs = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ]
    out = str(tmp_path / "winnow_partial")
    sink = StreamingWinnowSink(spark, out)
    bucketed.invalidate_landings(SF)  # no marker leakage from others
    half = len(docs) // 2
    sink(spark.createDataFrame(docs[:half], DOC_SCHEMA), 0)
    with pytest.raises(PartialStoreError, match="fingerprinted docs"):
        sink.publish(SF)
    # nothing was seeded: no durable marker, batch landing untouched
    marker = bucketed._seed_marker_path(spark, "winnow_fingerprints", SF)
    assert not os.path.isfile(marker)
    sink(spark.createDataFrame(docs[half:], DOC_SCHEMA), 1)
    name = sink.publish(SF)  # complete now: allowed
    try:
        assert spark.catalog.tableExists(name)
        assert os.path.isfile(marker)
    finally:
        bucketed.invalidate_landings(SF)
        bucketed.drop_landed(spark, name)


def test_streamed_granularity_agreement_equals_batch(spark, tmp_path):
    """Streamed twin of the cross-granularity agreement report (VERDICT
    r12 item 8): BOTH winnow fingerprint landings are maintained by
    streams — the char store and the word store, each a
    StreamingWinnowSink over its own (different) micro-batch split with
    duplicate re-delivery — and after both publish,
    q_winnow_granularity_agreement reads the two published tables and
    returns the batch-identical row (and still hash-matches its DuckDB
    oracle, which computes over the raw documents table)."""
    from data_engineering_project_spotify_app_spark.operators.dedup import (
        winnow_word_fingerprints_df,
    )
    from data_engineering_project_spotify_app_spark.sources import bucketed
    from data_engineering_project_spotify_app_spark.streaming.winnow_stream import (
        StreamingWinnowSink,
    )

    bucketed.invalidate_landings(SF)
    batch = [
        tuple(r)
        for r in registry.QUERIES["q_winnow_granularity_agreement"](
            spark, SF
        ).collect()
    ]
    docs = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ]
    half, third = len(docs) // 2, len(docs) // 3
    char_sink = StreamingWinnowSink(spark, str(tmp_path / "agree_char"))
    word_sink = StreamingWinnowSink(
        spark,
        str(tmp_path / "agree_word"),
        fingerprints_fn=winnow_word_fingerprints_df,
        landing_prefix="winnow_word_fingerprints",
    )
    # different splits per granularity, duplicates re-delivered in both
    for e, b in enumerate([docs[:half], docs[half:] + docs[:5]]):
        char_sink(spark.createDataFrame(b, DOC_SCHEMA), e)
    for e, b in enumerate(
        [docs[2 * third:], docs[:third] + docs[2 * third:2 * third + 5],
         docs[third:2 * third]]
    ):
        word_sink(spark.createDataFrame(b, DOC_SCHEMA), e)
    cname = char_sink.publish(SF)
    wname = word_sink.publish(SF)
    try:
        q = registry.QUERIES["q_winnow_granularity_agreement"](spark, SF)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert cname in plan and wname in plan  # reads BOTH streams
        assert [tuple(r) for r in q.collect()] == batch
        compare(
            spark, SF, "q_winnow_granularity_agreement",
            registry.QUERIES["q_winnow_granularity_agreement"],
            registry.ORACLES["q_winnow_granularity_agreement"],
        )
    finally:
        bucketed.invalidate_landings(SF)
        bucketed.drop_landed(spark, cname)
        bucketed.drop_landed(spark, wname)


def test_divergent_winnow_store_refuses_publish(spark, tmp_path):
    """Membership guard (ADVICE r12, medium): a store whose doc_id SET
    diverges from the corpus must refuse publish even when its COUNT
    matches or exceeds the expected count — stale doc_ids from a
    regenerated corpus, offset duplicates, or a wrong corpus entirely
    used to slip past the old got < expected check and be stamped
    fingerprint-fresh."""
    import pytest

    from data_engineering_project_spotify_app_spark.sources import bucketed
    from data_engineering_project_spotify_app_spark.streaming.winnow_stream import (
        PartialStoreError,
        StreamingWinnowSink,
    )

    docs = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ]
    bucketed.invalidate_landings(SF)
    marker = bucketed._seed_marker_path(spark, "winnow_fingerprints", SF)
    OFF = 10_000_000
    # Case 1: SAME count, divergent membership — half the corpus plus
    # the same half under shifted ids (texts unchanged, so every row
    # still fingerprints). got == expected under the old count check.
    shifted = [
        (doc_id + OFF, text) if i % 2 else (doc_id, text)
        for i, (doc_id, text) in enumerate(docs)
    ]
    sink1 = StreamingWinnowSink(spark, str(tmp_path / "w_shift"))
    sink1(spark.createDataFrame(shifted, DOC_SCHEMA), 0)
    with pytest.raises(PartialStoreError, match="not in the\\s+corpus"):
        sink1.publish(SF)
    assert not os.path.isfile(marker)
    # Case 2: SUPERSET — the full corpus plus extra foreign docs, so
    # got > expected (the old check's blind spot in the other
    # direction): extra ids poison consumers joining back to documents.
    extra = [(doc_id + OFF, text) for doc_id, text in docs[:10]]
    sink2 = StreamingWinnowSink(spark, str(tmp_path / "w_super"))
    sink2(spark.createDataFrame(docs + extra, DOC_SCHEMA), 0)
    with pytest.raises(PartialStoreError, match="not in the\\s+corpus"):
        sink2.publish(SF)
    assert not os.path.isfile(marker)
    # allow_partial remains the documented override for both shapes
    name = sink2.publish(SF, allow_partial=True)
    try:
        assert spark.catalog.tableExists(name)
    finally:
        bucketed.invalidate_landings(SF)
        bucketed.drop_landed(spark, name)


def test_expected_ids_cached_across_publish_attempts(spark, tmp_path):
    """The publish guard's expected-doc_id frame is cached per
    (session, corpus, fingerprints_fn) (ADVICE r12): auto-publish at
    compaction cadence must not re-fingerprint the whole corpus on
    every attempt. Same sink → same object; a sink with a DIFFERENT
    fingerprints_fn must not share the entry."""
    from data_engineering_project_spotify_app_spark.operators.dedup import (
        winnow_word_fingerprints_df,
    )
    from data_engineering_project_spotify_app_spark.streaming.winnow_stream import (
        StreamingWinnowSink,
    )

    a = StreamingWinnowSink(spark, str(tmp_path / "c1"))
    b = StreamingWinnowSink(spark, str(tmp_path / "c2"))  # same default fn
    w = StreamingWinnowSink(
        spark,
        str(tmp_path / "c3"),
        fingerprints_fn=winnow_word_fingerprints_df,
        landing_prefix="winnow_word_fingerprints",
    )
    first = a._expected_doc_ids(SF)
    assert a._expected_doc_ids(SF) is first  # repeat attempt: cache hit
    assert b._expected_doc_ids(SF) is first  # same (corpus, fn): shared
    assert w._expected_doc_ids(SF) is not first  # different fn: its own


def test_published_word_winnow_landing_consumer_matches_oracle(
    spark, tmp_path
):
    """Word-granularity publish parity (VERDICT r11 item 8): a
    word-gram StreamingWinnowSink (fingerprints_fn +
    landing_prefix='winnow_word_fingerprints') publishes its store, and
    (a) q_winnowing_pairs_word reads the published table and still
    hash-matches its DuckDB oracle, (b) the char landing is untouched
    (no cross-granularity poisoning), (c) an fp-keyed aggregate over
    the published table is Exchange-free."""
    from data_engineering_project_spotify_app_spark.operators.dedup import (
        winnow_word_fingerprints_df,
    )
    from data_engineering_project_spotify_app_spark.sources import bucketed
    from data_engineering_project_spotify_app_spark.streaming.winnow_stream import (
        StreamingWinnowSink,
    )

    docs = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ]
    out = str(tmp_path / "winnow_word_pub")
    bucketed.invalidate_landings(SF)
    sink = StreamingWinnowSink(
        spark,
        out,
        fingerprints_fn=winnow_word_fingerprints_df,
        landing_prefix="winnow_word_fingerprints",
    )
    third = len(docs) // 3
    for e, batch in enumerate(
        [docs[:third], docs[third:2 * third], docs[2 * third:]]
    ):
        sink(spark.createDataFrame(batch, DOC_SCHEMA), e)
    name = sink.publish(SF)
    try:
        assert name.startswith("winnow_word_fingerprints")
        assert spark.catalog.tableExists(name)
        q = registry.QUERIES["q_winnowing_pairs_word"](spark, SF)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert name in plan  # the consumer reads the published table
        # the CHAR landing was not superseded by word fingerprints
        char_marker = bucketed._seed_marker_path(
            spark, "winnow_fingerprints", SF
        )
        assert not os.path.isfile(char_marker)
        compare(
            spark, SF, "q_winnowing_pairs_word",
            registry.QUERIES["q_winnowing_pairs_word"],
            registry.ORACLES["q_winnowing_pairs_word"],
        )
        agg_plan = (
            spark.table(name)
            .groupBy("fp")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in agg_plan, agg_plan
    finally:
        bucketed.invalidate_landings(SF)
        bucketed.drop_landed(spark, name)


def test_publish_guard_tracks_inplace_corpus_regeneration(spark, tmp_path):
    """The publish guard's expected-doc_id cache must rotate when the
    corpus is regenerated IN PLACE within one session (ADVICE r13,
    medium): with a content-blind cache key, a store built from the
    OLD corpus would be validated against the old corpus's cached ids
    and stamped fingerprint-fresh for the NEW corpus, while a correctly
    rebuilt store would be refused. Both directions pinned here."""
    import pytest

    from data_engineering_project_spotify_app_spark.sources import bucketed
    from data_engineering_project_spotify_app_spark.streaming.winnow_stream import (
        PartialStoreError,
        StreamingWinnowSink,
    )

    corpus = str(tmp_path / "regen_corpus")
    base = "the quick brown fox jumps over the lazy dog again and again "

    def _write_docs(rows):
        spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(corpus, "documents.parquet"))

    gen1 = [(i, base * 3 + f"generation one doc {i}") for i in range(20)]
    gen2 = [
        (i + 100, base * 3 + f"generation two doc {i}") for i in range(25)
    ]
    _write_docs(gen1)
    sink1 = StreamingWinnowSink(spark, str(tmp_path / "regen_s1"))
    sink1(spark.createDataFrame(gen1, DOC_SCHEMA), 0)
    name1 = sink1.publish(corpus)  # warms the guard cache
    try:
        assert spark.catalog.tableExists(name1)
        # corpus regenerated in place: the gen-1 store is now stale and
        # must be REFUSED (a stale cache would let it through) ...
        _write_docs(gen2)
        with pytest.raises(PartialStoreError):
            sink1.publish(corpus)
        # ... while a store rebuilt from the new corpus must be ACCEPTED
        # (a stale cache would refuse it against gen-1 ids)
        sink2 = StreamingWinnowSink(spark, str(tmp_path / "regen_s2"))
        sink2(spark.createDataFrame(gen2, DOC_SCHEMA), 0)
        name2 = sink2.publish(corpus)
        assert spark.catalog.tableExists(name2)
    finally:
        bucketed.invalidate_landings(corpus)
        bucketed.drop_landed(spark, name1)


def test_winnow_sink_crash_between_commit_and_log_fold(spark, tmp_path):
    """Fault injection for the delta-chain crash-safety claim (VERDICT
    r13 item 6): previous pins only exercised checkpoint-less restarts
    and duplicate re-delivery — here the sink is killed MID-WRITE, at
    the three commit boundaries, and after each restart the streamed
    state must still equal the batch recompute with no lost or
    double-counted pairs:
      1. epoch crash AFTER the data files land but BEFORE any
         _COMMITTED marker (the commit step itself dies);
      2. epoch crash BETWEEN the pairs-log commit and the delta commit
         (the replay must regenerate the delta WITHOUT re-emitting the
         already-committed pairs);
      3. compaction crash BETWEEN the store-base commit and the
         pairs-log fold (the folded store and the unfolded logs must
         stay mutually consistent)."""
    import pytest

    from data_engineering_project_spotify_app_spark.streaming.winnow_stream import (
        StreamingWinnowSink,
    )
    from tests.test_streaming_dedup import _batch_winnow_pairs

    docs = _docs(spark, 60)
    s0, s1, s2 = docs[:20], docs[20:40], docs[40:60]
    out = str(tmp_path / "winnow_crash")

    def df_of(rows):
        return spark.createDataFrame(rows, DOC_SCHEMA)

    def want(rows):
        return _batch_winnow_pairs(spark, df_of(rows))

    def crash_mark_on_call(sink, nth):
        orig, seen = sink._mark, []

        def dying(path):
            seen.append(path)
            if len(seen) == nth:
                raise RuntimeError("injected crash at commit marker")
            orig(path)

        sink._mark = dying

    # 1) crash at the FIRST commit marker: pairs + delta parquet landed,
    # nothing committed
    sink = StreamingWinnowSink(spark, out)
    crash_mark_on_call(sink, 1)
    with pytest.raises(RuntimeError, match="injected"):
        sink(df_of(s0), 0)
    assert os.path.isdir(os.path.join(out, "pairs_e0"))  # files landed
    assert not os.path.exists(
        os.path.join(out, "pairs_e0", "_COMMITTED")
    ) and not os.path.exists(os.path.join(out, "wfp_e0", "_COMMITTED"))
    sink = StreamingWinnowSink(spark, out)  # restart, replay epoch 0
    sink(df_of(s0), 0)
    assert sorted(tuple(r) for r in sink.pairs().collect()) == want(s0)

    # 2) crash BETWEEN the pairs commit and the delta commit: pairs_e1
    # committed, wfp_e1 not — the replay regenerates the delta but must
    # NOT re-emit (duplicate) epoch-1 pairs
    crash_mark_on_call(sink, 2)
    with pytest.raises(RuntimeError, match="injected"):
        sink(df_of(s1), 1)
    assert os.path.exists(os.path.join(out, "pairs_e1", "_COMMITTED"))
    assert not os.path.exists(os.path.join(out, "wfp_e1", "_COMMITTED"))
    sink = StreamingWinnowSink(spark, out)  # restart, replay epoch 1
    sink(df_of(s1), 1)
    assert sorted(tuple(r) for r in sink.pairs().collect()) == want(
        s0 + s1
    )

    # 3) crash between the store-base commit and the pairs-log fold
    sink.fold_log = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("injected crash before log fold")
    )
    with pytest.raises(RuntimeError, match="injected"):
        sink.compact()
    # the store base IS committed, the pairs logs are NOT folded —
    # a restarted reader still sees the full consistent state
    sink = StreamingWinnowSink(spark, out)
    assert os.path.exists(os.path.join(out, "base_v1", "_COMMITTED"))
    assert os.path.exists(os.path.join(out, "pairs_e0", "_COMMITTED"))
    assert sorted(tuple(r) for r in sink.pairs().collect()) == want(
        s0 + s1
    )
    # ingestion continues; the next CLEAN compact folds everything and
    # reclaims the crash debris
    sink(df_of(s2), 2)
    sink.compact()
    names = os.listdir(out)
    assert [d for d in names if d.startswith("pairs_e")] == []
    assert len([d for d in names if d.startswith("pairs_base")]) == 1
    assert sorted(tuple(r) for r in sink.pairs().collect()) == want(docs)
    # the maintained store itself equals the batch fingerprint recompute
    from data_engineering_project_spotify_app_spark.operators.dedup import (
        winnow_fingerprints_df,
    )

    got_fp = sorted(
        tuple(r) for r in sink.current_fingerprints().collect()
    )
    want_fp = sorted(
        tuple(r) for r in winnow_fingerprints_df(df_of(docs)).collect()
    )
    assert got_fp == want_fp and got_fp
