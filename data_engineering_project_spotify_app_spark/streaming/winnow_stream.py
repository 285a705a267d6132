"""Streaming winnowing-fingerprint maintainer: the streaming twin of
``q_winnowing_pairs`` (operators/dedup.py), built on the same
delta-only cost model as the MinHash-LSH maintainer (dedup_stream.py).

Winnowing fingerprints are per-document pure functions of the text, so
per-epoch fingerprint deltas merge by plain union — like the exact
store's hash partials and unlike LSH bands, no cross-document state
exists at all. Each micro-batch is fingerprinted ONCE; its shared-
fingerprint pairs are generated against the at-rest store (new × store)
plus within the batch (the new-new triangle), logged per epoch, and the
batch's fingerprints are appended as the store delta. A pair is emitted
in exactly the epoch its LATER member arrives, carrying its FULL
n_shared (the store already holds every fingerprint of the earlier
member), so the union of the pair logs equals the batch shared-pair set
for ANY micro-batch split (pinned in tests/test_streaming_dedup.py).

``df_cap`` is the streaming form of the batch stop-fingerprint cull
(WINNOW_DF_CAP): judged over the fingerprints the delta TOUCHES only
(store occupancy probed by a broadcast semi-join on the delta's
distinct fps), with the same PREFIX semantics as the LSH sink's
bucket_cap — a fingerprint that crosses the cap at epoch N stops
producing pairs from N on, but its earlier pairs stay in the log
(emitted pairs are facts; the batch form judges final df instead).

Commit-marker contract, marker order, guard, and compaction are the
LSH sink's exactly — both run delta_chain.PairLogStore's epoch: pairs
log marked FIRST, then the store delta; the cross-epoch duplicate
guard probes the store's doc_id column with a broadcast semi-join;
compact() folds the store chain and the pairs logs (each doc/pair
lands once, so both folds are plain unions).

Reference parity: the reference app has no streaming surface at all
(app.py's whole pipeline is request-driven batch); this module is part
of the engine's Structured-Streaming extension of SURVEY.md §2.9.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.operators.dedup import (
    winnow_fingerprints_df,
)
from data_engineering_project_spotify_app_spark.streaming.delta_chain import (
    PairLogStore,
)


class PartialStoreError(ValueError):
    """publish() refused to seed: the maintained store's doc_id set
    diverges from the corpus it would be stamped fresh for — a prefix
    (docs missing) or a poisoned/stale store (extra docs). See
    StreamingWinnowSink.publish's completeness guard."""


# publish()-guard expected-doc_id cache, keyed by (Spark application
# id, corpus dir, fingerprints_fn, corpus CONTENT fingerprint): the
# guard's "which corpus docs produce ≥1 fingerprint" frame is a pure
# function of the corpus CONTENT and the fingerprint map, so
# auto-publish at compaction cadence pays the full-corpus fingerprint
# pass ONCE per (session, corpus generation, fn) instead of on every
# compaction (ADVICE r12), and an in-place corpus regeneration rotates
# the key instead of serving the old generation's ids (ADVICE r13).
# Values are eager localCheckpoints (session-scoped — a restarted
# session gets a new application id and recomputes, so no
# cross-session staleness).
_EXPECTED_IDS_CACHE: dict[tuple[str, str, object, str], DataFrame] = {}


class StreamingWinnowSink(PairLogStore):
    """foreachBatch maintainer of the winnowing fingerprint store +
    shared-pair log. Marker order inside an epoch: pairs FIRST, then
    the fingerprint delta — a committed delta implies durable pairs,
    which is what makes compacting committed deltas replay-safe."""

    DELTA_PREFIX = "wfp_e"

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        df_cap: int | None = None,
        dedupe_guard: bool = True,
        auto_compact_every: int | None = None,
        publish_to: str | None = None,
        fingerprints_fn=None,
        landing_prefix: str = "winnow_fingerprints",
    ) -> None:
        """``publish_to=sf_dir`` makes the maintainer hands-off the way
        the doc/basket sinks are: every auto-compaction (requires
        ``auto_compact_every``) is followed by publish(), so the batch
        fingerprint landing (q_winnowing_pairs' input) tracks the
        stream at compaction cadence with no operator intervention.

        ``fingerprints_fn`` maps a (doc_id, text) batch to its
        (doc_id, fp) fingerprints — default the char-8-gram winnowing;
        pass dedup.winnowing WORD-gram head (or any per-doc pure map
        onto a bigint fp) to maintain that granularity under the same
        delta-only contract; the split-invariance law only needs
        fingerprints to be per-doc pure functions of the text.

        ``landing_prefix`` is the landed_frame prefix publish() seeds —
        keep it consistent with fingerprints_fn: the char default seeds
        ``winnow_fingerprints`` (q_winnowing_pairs' input); a word-gram
        sink must pass ``winnow_word_fingerprints`` so it supersedes
        the WORD landing (q_winnowing_pairs_word) and never poisons the
        char one with word fingerprints."""
        super().__init__(spark, out_dir, dedupe_guard, auto_compact_every)
        self.df_cap = df_cap
        self.publish_to = publish_to
        self.fingerprints_fn = fingerprints_fn or winnow_fingerprints_df
        self.landing_prefix = landing_prefix

    def _expected_doc_ids(self, sf_dir: str) -> DataFrame:
        """Distinct doc_ids of the corpus docs that produce ≥1
        fingerprint under this sink's fingerprints_fn — the publish
        guard's ground truth, cached per (session, corpus CONTENT, fn)
        so repeated publish attempts (auto-publish fires at every
        compaction) pay the full-corpus fingerprint pass once. The key
        carries the corpus content fingerprint (ADVICE r13, medium):
        regenerating sf_dir in place is explicitly supported by the
        landing layer (sources/bucketed.py's staleness contract), and a
        key without it would validate a new corpus's store against the
        OLD corpus's cached doc_ids — stamping a stale store fresh and
        failing a correctly rebuilt one. Superseded entries for the
        same (session, corpus, fn) are evicted so the cache never
        grows past one generation per corpus."""
        from data_engineering_project_spotify_app_spark.sources.bucketed import (
            corpus_fingerprint,
        )

        fp = corpus_fingerprint(sf_dir)
        key = (
            self.spark.sparkContext.applicationId,
            sf_dir,
            self.fingerprints_fn,
            fp,
        )
        hit = _EXPECTED_IDS_CACHE.get(key)
        if hit is not None:
            return hit
        for stale in [k for k in _EXPECTED_IDS_CACHE if k[:3] == key[:3]]:
            del _EXPECTED_IDS_CACHE[stale]
        corpus = self.spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "text")
        ids = (
            self.fingerprints_fn(corpus)
            .select("doc_id")
            .distinct()
            .localCheckpoint(eager=True)
        )
        _EXPECTED_IDS_CACHE[key] = ids
        return ids

    def current_fingerprints(self) -> DataFrame | None:
        return self.read_store()

    def publish(
        self,
        sf_dir: str,
        allow_partial: bool = False,
    ) -> str:
        """Land the maintained fingerprint store as the fp-bucketed
        managed table batch consumers expect (corpus_buckets(spark,
        sf_dir) buckets) and adopt it as THE
        ``winnow_fingerprints`` landing for sf_dir — q_winnowing_pairs
        (and any winnowing_pairs_from_fps caller) then reads the
        streamed state with zero query changes, exactly the
        publish-once-consume-anywhere contract of the signature/edge
        maintainers (landing_stream.py). Returns the table name.

        COMPLETENESS GUARD (ADVICE r11, tightened r13): seeding stamps
        the landing with the CURRENT full-corpus fingerprint, so a
        store that has only ingested a prefix of the corpus — or one
        carrying stale/foreign doc_ids — would otherwise be served to
        batch consumers as fingerprint-fresh while their DuckDB oracles
        compute over the whole documents table. Before seeding, the
        store's distinct doc_id SET is compared to the set of corpus
        docs that produce ≥1 fingerprint under this sink's
        ``fingerprints_fn`` — MEMBERSHIP, not count (ADVICE r12: a
        store with stale doc_ids from a regenerated corpus, or a wrong
        corpus entirely, can match or exceed the count while diverging
        on every row). Any symmetric difference (missing OR extra
        doc_ids) raises PartialStoreError unless ``allow_partial=True``
        — an explicit opt-in whose consumers are documented to diverge
        from full-corpus oracles until ingestion completes. The
        expected-id frame is one batch fingerprint pass over the
        corpus, cached per (session, corpus, fingerprints_fn) across
        publish attempts (ADVICE r12: auto-publish used to re-pay the
        full-corpus pass on EVERY compaction)."""
        from data_engineering_project_spotify_app_spark.sources.bucketed import (
            corpus_buckets,
            land_bucketed,
            landing_table_name,
            seed_landing,
        )

        fps = self.current_fingerprints()
        if fps is None:
            raise ValueError("nothing ingested yet — nothing to publish")
        if not allow_partial:
            expected_ids = self._expected_doc_ids(sf_dir)
            store_ids = fps.select("doc_id").distinct()
            # one full-outer pass: count both directions of the
            # symmetric difference in a single job
            diff = (
                expected_ids.withColumn("_e", F.lit(1))
                .join(
                    store_ids.withColumn("_s", F.lit(1)),
                    "doc_id",
                    "full_outer",
                )
                .agg(
                    F.sum(
                        F.when(F.col("_s").isNull(), 1).otherwise(0)
                    ).alias("missing"),
                    F.sum(
                        F.when(F.col("_e").isNull(), 1).otherwise(0)
                    ).alias("extra"),
                )
                .first()
            )
            missing = diff["missing"] or 0
            extra = diff["extra"] or 0
            if missing or extra:
                raise PartialStoreError(
                    f"store doc_id set diverges from the fingerprinted "
                    f"docs of {sf_dir}: {missing} corpus docs missing "
                    f"from the store, {extra} store docs not in the "
                    "corpus — seeding now would serve a divergent store "
                    "as a fingerprint-fresh landing while batch oracles "
                    "see the full corpus. Finish ingestion (or rebuild "
                    "the store for THIS corpus), or pass "
                    "allow_partial=True to publish anyway."
                )
        name = (
            landing_table_name(self.landing_prefix, sf_dir) + "_streamed"
        )
        land_bucketed(fps, name, "fp", corpus_buckets(self.spark, sf_dir))
        seed_landing(self.spark, sf_dir, self.landing_prefix, name)
        return name

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if not self._pair_epoch(
            batch_df,
            epoch_id,
            self.fingerprints_fn,
            ["fp"],
            "n_shared",
            self.df_cap,
        ):
            return
        if self.maybe_compact() and self.publish_to is not None:
            # Auto-publish rides the completeness guard: a mid-stream
            # compaction whose store is still a prefix of the corpus
            # SKIPS seeding (the landing keeps its previous state; the
            # next compaction — or an explicit publish() once ingestion
            # completes — lands it), instead of silently serving
            # partial fingerprints to oracle-checked batch consumers.
            try:
                self.publish(self.publish_to)
            except PartialStoreError as e:
                # A skipped seed must be VISIBLE (ADVICE r12): a sink
                # misconfigured for the wrong corpus would otherwise
                # fail the guard silently forever while consumers read
                # an ever-staler landing.
                import logging

                logging.getLogger(__name__).warning(
                    "auto-publish skipped (landing keeps its previous "
                    "state): %s",
                    e,
                )

