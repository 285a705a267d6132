"""Streaming twin of ``q_curation_funnel`` (operators/diagnostics.py):
the per-corpus first-drop attribution report, maintained incrementally.

A daily-ingest curation team wants the same report the batch funnel
publishes — how many documents (and characters) each rule costs, with
every document charged to the FIRST stage that would drop it — without
re-scanning the corpus per epoch. The funnel composes three stage
states, all of which the existing maintainers already keep
incrementally on append-only delta chains:

- the exact-dedup hash state (exact_stream.py): (text_hash, keep_id,
  n_copies), mergeable min/sum aggregates;
- the MinHash-LSH pair log (dedup_stream.py): the candidate edges of
  the near-dup cluster graph, each pair emitted in exactly one epoch;
- a per-document stats landing (landing_stream.StreamingDocLandingSink
  with a select transform): (doc_id, n_chars, text_len, h) — the pure
  per-doc columns the attribution CASE and the keep-best ranking read.

``report()`` recomputes the attribution FROM the maintained states:
connected components over the streamed pair set (identical to the
batch pair set for any split — pinned by the LSH sink's tests), the
keep-best ranking over clusters × stats, the exact-keep ids from the
hash state, then the same CASE + one |stages|-group aggregate as the
batch query. Attribution is inherently retroactive — a later epoch can
deliver a smaller doc_id that takes over an exact-keep slot, or a new
near-dup edge that merges two clusters and re-elects keep-best — so
the REPORT is a snapshot recomputation over cluster-bounded state (the
CC loop's working set is pair participants, not corpus; the stats
joins are doc_id-keyed equi-joins), while the per-epoch INGEST work
stays O(|delta|). That split — cheap monotone state maintenance,
snapshot reports over bounded state — is the same contract as the
batch funnel, which also recomputes its attribution per corpus.

Streamed report == batch q_curation_funnel across arbitrary
micro-batch splits is pinned in tests/test_funnel_stream.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_engineering_project_spotify_app_spark.operators.clusters import (
    connected_components,
)
from data_engineering_project_spotify_app_spark.operators.diagnostics import (
    LENGTH_FLOOR_CHARS,
)
from data_engineering_project_spotify_app_spark.streaming.dedup_stream import (
    StreamingLshDedupSink,
)
from data_engineering_project_spotify_app_spark.streaming.exact_stream import (
    StreamingExactDedupSink,
)
from data_engineering_project_spotify_app_spark.streaming.landing_stream import (
    StreamingDocLandingSink,
)


def _doc_stats(batch: DataFrame) -> DataFrame:
    cols = [
        F.col("doc_id"),
        F.length("text").alias("text_len"),
        F.col("n_chars") if "n_chars" in batch.columns
        else F.length("text").alias("n_chars"),
        F.md5("text").alias("h"),
    ]
    # carry source when the ingest provides it so report(by_source=True)
    # can segment without rescanning anything
    if "source" in batch.columns:
        cols.append(F.col("source"))
    return batch.select(*cols)


class StreamingCurationFunnel:
    """One foreachBatch target fanning each micro-batch into the three
    stage maintainers (each with its own delta chain under
    ``out_dir``), plus the snapshot ``report()``. The three sinks share
    the batch's epoch id, so replay safety is per-sink (each checks its
    own markers) and a crash mid-fan-out resumes exactly where it
    stopped."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        bucket_cap: int | None = None,
        dedupe_guard: bool = True,
        auto_compact_every: int | None = None,
    ) -> None:
        self.spark = spark
        self.out_dir = out_dir
        self.exact = StreamingExactDedupSink(
            spark,
            os.path.join(out_dir, "exact"),
            dedupe_guard=dedupe_guard,
            auto_compact_every=auto_compact_every,
        )
        self.lsh = StreamingLshDedupSink(
            spark,
            os.path.join(out_dir, "lsh"),
            bucket_cap=bucket_cap,
            dedupe_guard=dedupe_guard,
            auto_compact_every=auto_compact_every,
        )
        self.stats = StreamingDocLandingSink(
            spark,
            os.path.join(out_dir, "stats"),
            _doc_stats,
            dedupe_guard=dedupe_guard,
            auto_compact_every=auto_compact_every,
        )

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.exact(batch_df, epoch_id)
        self.lsh(batch_df, epoch_id)
        self.stats(batch_df, epoch_id)

    def compact(self) -> None:
        self.exact.compact()
        self.lsh.compact()
        self.stats.compact()

    def report(self, by_source: bool = False) -> DataFrame | None:
        """The maintained funnel: same columns and semantics as batch
        ``q_curation_funnel`` — (stage, n_docs, n_chars), every doc
        charged to its first-drop stage. With ``by_source=True`` the
        streamed twin of ``q_funnel_by_source`` — (source, stage, ...)
        — which requires the ingest to have carried a ``source``
        column (see _doc_stats)."""
        stats = self.stats.current_landing()
        ek = self.exact.current_state()
        if stats is None or ek is None:
            return None
        pairs = self.lsh.pairs()
        nodes = stats.select(F.col("doc_id").alias("node"))
        if pairs is None:
            edges = self.spark.createDataFrame([], "src long, dst long")
        else:
            edges = pairs.select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            )
        cc = connected_components(nodes, edges).select(
            F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("text_len").desc(), "doc_id"
        )
        nk = (
            cc.join(stats.select("doc_id", "text_len"), "doc_id")
            .select(
                "cluster_id",
                "doc_id",
                F.row_number().over(w).alias("rn"),
            )
            .filter(F.col("rn") == 1)
            .select("cluster_id", F.col("doc_id").alias("nkeep"))
        )
        stage = (
            F.when(F.col("n_chars") < LENGTH_FLOOR_CHARS, F.lit("length"))
            .when(F.col("doc_id") != F.col("ekeep"), F.lit("exact_dup"))
            .when(F.col("doc_id") != F.col("nkeep"), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
        )
        keys = ["source", "stage"] if by_source else ["stage"]
        picked = (["source"] if by_source else []) + ["n_chars"]
        return (
            stats.select(
                "doc_id",
                "n_chars",
                "h",
                *(["source"] if by_source else []),
            )
            .join(
                ek.select(
                    F.col("text_hash").alias("h"),
                    F.col("keep_id").alias("ekeep"),
                ),
                "h",
            )
            .join(cc, "doc_id")
            .join(nk, "cluster_id")
            .select(stage.alias("stage"), *picked)
            .groupBy(*keys)
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("n_chars"),
            )
        )

