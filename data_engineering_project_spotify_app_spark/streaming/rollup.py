"""Streaming materialized-rollup maintenance: the streaming twin of
operators/incremental.py.

Each micro-batch folds its partial aggregate into the previous state
version and writes a NEW state snapshot keyed by epoch id — never an
in-place update. Exactly-once falls out of the version chain: a
replayed epoch sees its own committed snapshot and skips; an epoch that
failed mid-write left no ``_COMMITTED`` marker, so the retry overwrites
the same path. Readers always see the latest committed snapshot.

At 100 TB the snapshot is a transactional-format table and the version
chain is its commit log; this directory form is the format-free
equivalent (same trade as sinks.py's EpochSink) and keeps the
contract testable here. State size is O(#groups), so "rewrite the whole
state per epoch" is the cheap operation — it is the EVENT history that
must never be rescanned, and is not.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from data_engineering_project_spotify_app_spark.operators.incremental import (
    _partials,
    merge_partials,
)
from data_engineering_project_spotify_app_spark.streaming.sinks import (
    is_committed,
    listed_ids,
    mark_committed,
)


class IncrementalRollupSink:
    """foreachBatch state maintainer: state_v{epoch} snapshot chain."""

    def __init__(self, spark: SparkSession, out_dir: str) -> None:
        self.spark = spark
        self.out_dir = out_dir

    def _dir(self, epoch_id: int) -> str:
        return os.path.join(self.out_dir, f"state_v{epoch_id}")

    def committed_versions(self) -> list[int]:
        return listed_ids(self.out_dir, "state_v")

    def current(self) -> DataFrame | None:
        versions = self.committed_versions()
        if not versions:
            return None
        return self.spark.read.parquet(self._dir(versions[-1]))

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        target = self._dir(epoch_id)
        if is_committed(target):
            return  # replayed epoch: snapshot already durable
        delta = _partials(batch_df)
        prior = [v for v in self.committed_versions() if v < epoch_id]
        if prior:
            state = merge_partials(
                self.spark.read.parquet(self._dir(prior[-1])), delta
            )
        else:
            state = delta
        # The state is #groups rows — collapse to one file so the
        # snapshot read is a single-footer open at any scale of history.
        state.coalesce(1).write.mode("overwrite").parquet(target)
        mark_committed(target)

