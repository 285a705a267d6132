"""Streaming incremental MinHash-LSH dedup: the streaming twin of
``q_incremental_dedup`` (operators/dedup.py), built the way
streaming/rollup.py maintains rollups.

Each micro-batch of newly-ingested documents is shingled/min-hashed
ONCE, its LSH bands are matched against the at-rest band store
(new × store) and against themselves (the new-new triangle), the
resulting candidate pairs are appended to a per-epoch pairs log, and
the batch's bands are APPENDED to the store as a per-epoch delta.
Store-vs-store pairs are never generated — per-bucket work is
O(|new| × |bucket|), the delta-only shape that makes a 1% daily ingest
against a 100 TB corpus a nightly job instead of a full re-dedup.

The store is an append-only delta chain, NOT a rewritten snapshot:
epoch N writes only its own O(|delta|) bands (contrast rollup.py,
whose state is O(#groups) and cheap to rewrite — the band store is
O(corpus), and rewriting it per epoch would cost O(corpus) per day and
quadratic cumulative). compact() folds committed deltas into a base so
the union read stays a bounded file count — the same job a
transactional table's compaction runs at 100 TB.

Exactly-once falls out of the commit-marker contract (sinks.py):
pairs log and band delta each carry a commit marker keyed by epoch id
(pairs marked FIRST, so a committed delta implies durable pairs — what
makes compacting committed deltas replay-safe); a replayed epoch sees
its markers and skips, a half-finished epoch left no marker and the
retry overwrites the same path. The epoch body is
delta_chain.PairLogStore's, shared with the winnowing sink. The union
of all committed pairs logs equals the batch ``q_minhash_lsh`` pair set
exactly — every (doc_a, doc_b) pair is emitted in precisely the epoch
its LATER member arrives (equivalence pinned across micro-batch splits
in tests/test_streaming_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_engineering_project_spotify_app_spark.operators.dedup import (
    lsh_bands_df,
    minhash_signatures_df,
)
from data_engineering_project_spotify_app_spark.streaming.delta_chain import (
    PairLogStore,
)
from data_engineering_project_spotify_app_spark.streaming.sinks import (
    listed_ids,
)

DOC_SCHEMA = "doc_id long, text string"


def stream_documents(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """NDJSON document file stream (doc_id, text) — one dropped file per
    micro-batch at the default trigger setting, mirroring
    stream_ops.stream_events."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )


class StreamingLshDedupSink(PairLogStore):
    """foreachBatch maintainer of the LSH band store + pairs log.
    Store machinery (delta chain, base, compaction, the pair-log epoch)
    lives in delta_chain.PairLogStore; this class supplies the band
    derivation and keys.

    ``bucket_cap``, when set, applies the streaming skew guard at every
    epoch (see delta_chain.delta_pairs). Streaming cap semantics are
    necessarily PREFIX semantics: occupancy is judged as of the current
    epoch, so a bucket that crosses the cap at epoch N stops producing
    pairs from N on, but its pre-N pairs were already durably emitted —
    unlike the batch q_minhash_lsh_capped, which judges final occupancy.
    That is the right trade for an append-only log (emitted pairs are
    facts; retracting them would make the log non-monotone), and the
    batch/streaming difference vanishes for buckets that never cross
    the cap (pinned in tests/test_streaming_dedup.py)."""

    DELTA_PREFIX = "bands_e"

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        bucket_cap: int | None = None,
        dedupe_guard: bool = True,
        auto_compact_every: int | None = None,
    ) -> None:
        super().__init__(spark, out_dir, dedupe_guard, auto_compact_every)
        self.bucket_cap = bucket_cap

    def committed_band_versions(self) -> list[int]:
        return self.committed_delta_epochs()

    def committed_pair_epochs(self) -> list[int]:
        return listed_ids(self.out_dir, "pairs_e")

    def current_bands(self) -> DataFrame | None:
        return self.read_store()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self._pair_epoch(
            batch_df,
            epoch_id,
            lambda docs: lsh_bands_df(minhash_signatures_df(docs)),
            ["band", "band_key"],
            "n_bands_matched",
            self.bucket_cap,
        ):
            self.maybe_compact()
