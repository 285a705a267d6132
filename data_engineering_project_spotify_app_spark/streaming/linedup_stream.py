"""Streaming C4-style line dedup: the streaming twin of
``q_dedup_lines`` (operators/linedup.py), built on the same
epoch-versioned store + commit-marker contract as dedup_stream.py.

Batch semantics: a line (non-overlapping K-token chunk) is kept only at
its FIRST corpus occurrence, ordered by (doc_id, line_idx). When the
stream delivers documents in ascending doc_id order — the natural shape
for an append-only ingest where doc ids are assigned on arrival — the
streamed result is EXACTLY the batch recompute: within a micro-batch
the min-(doc_id, line_idx) aggregate picks the batch-local first
occurrence, and the digest-store anti-join removes every line some
earlier epoch already kept. Equivalence across arbitrary ascending
splits is pinned in tests/test_streaming_dedup.py.

The store is the set of line digests kept so far — O(distinct lines)
rows, the same cardinality the batch aggregate shuffles — maintained
as an append-only delta chain (per-epoch O(|new digests|) writes plus
a compact() that folds deltas into a base), never a per-epoch rewrite
of the whole store; the document history is never rescanned. At 100 TB
the store is a bucketed table keyed by digest so the per-epoch
anti-join is a co-partitioned probe, and compact() is its table
compaction job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.operators.linedup import (
    LINE_TOKENS,
    _chunk_lines,
)
from data_engineering_project_spotify_app_spark.streaming.delta_chain import (
    DeltaChainStore,
)


class StreamingLineDedupSink(DeltaChainStore):
    """foreachBatch maintainer: per-epoch cleaned-document logs + a
    kept-line digest store as an append-only delta chain (see
    DeltaChainStore). Marker order: docs log first, then the digest
    delta, so a committed delta implies its cleaned docs are durable
    (what makes compacting committed deltas replay-safe)."""

    DELTA_PREFIX = "digests_e"
    # clean_docs() is a plain union, so one folded docs base preserves
    # every reader's view while bounding the guard probe's file count
    LOGS = {"docs_e": False}

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        k: int = LINE_TOKENS,
        dedupe_guard: bool = True,
        auto_compact_every: int | None = None,
    ) -> None:
        super().__init__(spark, out_dir, dedupe_guard, auto_compact_every)
        self.k = k

    def current_store(self) -> DataFrame | None:
        return self.read_store()

    def clean_docs(self) -> DataFrame | None:
        """The cleaned-document log (folded docs base + per-epoch logs
        newer than it) — the streamed equivalent of the batch
        dedup_lines result."""
        return self.read_log("docs_e")

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        delta_done = self._done(epoch_id)
        docs_done = self._done(epoch_id, "docs_e")
        if docs_done and delta_done:
            # Replayed epoch: both outputs durable. A crash between the
            # second marker and the _unstage below leaves the staged
            # parquet behind — reclaim it here.
            self._unstage(epoch_id)
            return
        store = self.read_store(epoch_id)
        # the guard probes the committed docs logs' doc_id column (the
        # digest store has no doc ids): a re-delivered doc_id would be
        # re-logged into a second docs_e log, and clean_docs() would
        # return it twice with all its lines dropped as "already kept"
        batch = self._unseen(batch_df, epoch_id, log="docs_e")
        # Chunk ONCE per epoch; both consumers (the cleaned-doc log and
        # the store append) read the staged materialization, the same
        # diamond-avoidance trade as the pair-log sinks' staged delta.
        lines = self._stage(
            _chunk_lines(batch, self.k).withColumn("h", F.md5("line")),
            epoch_id,
        )
        # batch-local first occurrence: the same min-struct HASH
        # AGGREGATE as batch dedup_lines (never a window over the
        # digest — the mega-duplicated boilerplate line argument)
        firsts = lines.groupBy("h").agg(
            F.min(F.struct("doc_id", "line_idx")).alias("first")
        )
        if store is not None:
            firsts = firsts.join(store, "h", "left_anti")
        flagged = lines.join(
            firsts, "h", "left"
        ).select(
            "doc_id",
            "line_idx",
            "line",
            "h",
            (
                F.col("first").isNotNull()
                & (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("line_idx") == F.col("first.line_idx"))
            ).alias("keep"),
        )
        if not docs_done:
            cleaned = flagged.groupBy("doc_id").agg(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("keep"),
                                    F.struct("line_idx", "line"),
                                )
                            )
                        ),
                        lambda s: s["line"],
                    ),
                ).alias("clean_text"),
                F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
                F.count(F.when(~F.col("keep"), 1)).alias("n_dropped"),
            )
            self._commit(cleaned, self._log_dir("docs_e", epoch_id))
        if not delta_done:
            # DELTA write: only this epoch's newly-kept digests —
            # O(|delta|), never a rewrite of the whole digest store
            self._commit(
                flagged.filter("keep").select("h").distinct(),
                self._delta_dir(epoch_id),
            )
        self._unstage(epoch_id)
        self.maybe_compact()
