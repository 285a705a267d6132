"""Append-only delta-chain store machinery shared by every streaming
maintainer that keeps O(corpus) state (the dedup, ANN and landing
sinks), with the delta-only pair generator (``delta_pairs``) and the
pair-log epoch the LSH and winnowing sinks run.

Layout inside ``out_dir``:

- ``{DELTA_PREFIX}{N}``: epoch N's store delta — the only store write
  an epoch performs, O(|delta|). A full-store rewrite per epoch would
  be O(corpus)/epoch and quadratic cumulative, the shape an O(corpus)
  store must never have (contrast rollup.py, whose state is O(#groups)
  and cheap to rewrite).
- ``{BASE_PREFIX}{B}``: compacted base holding every delta of epochs
  <= B. compact() folds committed deltas into a new base so the union
  read stays a bounded file count — the job a transactional table's
  compaction runs at 100 TB.
- ``{log}{N}`` / ``{log}_base{B}``: secondary per-epoch log families
  (guard ids, pair and document outputs) with the same fold-into-base
  treatment, folded to the store's target on every compact().
- commit markers (sinks.py) gate visibility: readers see only marked
  directories, and ignore deltas <= the base epoch even if a crashed
  compaction sweep left them behind.

Epoch ids must be durable and monotone for the marker contract to give
exactly-once — see sinks.attach.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.functions.pairs import (
    sorted_pairs,
)
from data_engineering_project_spotify_app_spark.streaming.sinks import (
    is_committed,
    listed_ids,
    mark_committed,
)


def delta_pairs(
    new: DataFrame,
    store: DataFrame | None,
    keys: list[str],
    count_col: str,
    cap: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, ``count_col``) pairs touching the delta, from
    (doc_id, *keys) rows: the new-new triangle (bucket-collect inside
    the batch) plus new × store key matches, counted per pair. The delta
    side is the small one by construction — it is broadcast into the
    store join, so the store is probed in place and never shuffled.

    ``cap`` is the streaming form of the batch skew guard: an
    uninformative key accumulates members in the STORE forever, so by
    epoch N a degenerate bucket pairs every new doc against an unbounded
    store-side posting list — the one place the delta-only cost model
    O(|new| × |bucket|) can silently degrade toward O(|new| × |corpus|).
    The cap drops keys whose TOTAL occupancy (store + batch) exceeds it,
    on both the triangle and the cross join, before any pair is
    generated; the cap frame is tiny (distinct over-full keys only) and
    broadcast."""
    if cap is not None:
        # Occupancy is counted ONLY over keys the delta touches — a
        # bucket without a new member generates no pairs this epoch, so
        # counting it is wasted work, and counting the WHOLE store per
        # epoch would be O(store)/epoch (the same quadratic-cumulative
        # shape the delta-chain store write avoids). The semi-join keys
        # are the delta's distinct keys, broadcast; on a store table
        # bucketed by key this probe prunes to the touched buckets.
        new_keys = new.select(*keys).distinct()
        occupancy = new.select(*keys)
        if store is not None:
            occupancy = occupancy.unionByName(
                store.join(F.broadcast(new_keys), keys, "leftsemi").select(
                    *keys
                )
            )
        overfull = (
            occupancy.groupBy(*keys)
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > cap)
            .select(*keys)
        )
        new = new.join(F.broadcast(overfull), keys, "left_anti")
        if store is not None:
            store = store.join(F.broadcast(overfull), keys, "left_anti")
    matches = (
        new.groupBy(*keys)
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(sorted_pairs("ids", "doc_a", "doc_b")).alias("pr"))
        .select("pr.doc_a", "pr.doc_b")
    )
    if store is not None:
        probe = new.select(*keys, F.col("doc_id").alias("new_id"))
        cross = (
            store.join(F.broadcast(probe), keys)
            .filter(F.col("doc_id") != F.col("new_id"))
            .select(
                F.least("doc_id", "new_id").alias("doc_a"),
                F.greatest("doc_id", "new_id").alias("doc_b"),
            )
        )
        matches = matches.unionByName(cross)
    return matches.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias(count_col)
    )


class DeltaChainStore:
    """Base of the delta-chain sinks: subclasses set ``DELTA_PREFIX``
    (and ``LOGS``, their secondary log families) and implement
    ``__call__(batch_df, epoch_id)`` from the protocol pieces below —
    ``_done`` (replay check), ``_unseen`` (re-delivery guard) and
    ``_commit`` (data, then marker)."""

    DELTA_PREFIX = "delta_e"
    BASE_PREFIX = "base_v"
    # log family prefix -> whether compaction deduplicates its fold
    # (set-valued logs: guard keys, edges)
    LOGS: dict[str, bool] = {}

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        dedupe_guard: bool = True,
        auto_compact_every: int | None = None,
    ) -> None:
        self.spark = spark
        self.out_dir = out_dir
        self.dedupe_guard = dedupe_guard
        self.auto_compact_every = auto_compact_every

    # an attribute every commit goes through, so fault-injection tests
    # can kill a sink at a chosen commit boundary
    _mark = staticmethod(mark_committed)

    def _commit(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)
        self._mark(path)

    def _log_dir(self, prefix: str, epoch_or_version: int) -> str:
        return os.path.join(self.out_dir, f"{prefix}{epoch_or_version}")

    def _delta_dir(self, epoch_id: int) -> str:
        return self._log_dir(self.DELTA_PREFIX, epoch_id)

    def _base_dir(self, version: int) -> str:
        return self._log_dir(self.BASE_PREFIX, version)

    @staticmethod
    def _log_base_prefix(prefix: str) -> str:
        # "ids_e" -> "ids_base", "docs_e" -> "docs_base"
        assert prefix.endswith("_e"), prefix
        return prefix[:-2] + "_base"

    def _last_id(self, prefix: str) -> int | None:
        ids = listed_ids(self.out_dir, prefix)
        return ids[-1] if ids else None

    def _base_epoch(self) -> int | None:
        return self._last_id(self.BASE_PREFIX)

    def _chain(self, log: str | None) -> tuple[str, str]:
        """(per-epoch prefix, base prefix) of the store (``log`` None)
        or of a log family."""
        if log is None:
            return self.DELTA_PREFIX, self.BASE_PREFIX
        return log, self._log_base_prefix(log)

    def _done(self, epoch_id: int, log: str | None = None) -> bool:
        """Replay check: epoch ``epoch_id``'s store delta (or its entry
        in log family ``log``) is durable — committed, or already
        folded into the base."""
        prefix, base_prefix = self._chain(log)
        base = self._last_id(base_prefix)
        return is_committed(self._log_dir(prefix, epoch_id)) or (
            base is not None and base >= epoch_id
        )

    def committed_delta_epochs(self) -> list[int]:
        """Committed delta epochs not yet folded into the base
        (superseded deltas are ignored even if a crashed compaction
        sweep left their directories behind)."""
        base = self._base_epoch()
        return [
            v
            for v in listed_ids(self.out_dir, self.DELTA_PREFIX)
            if base is None or v > base
        ]

    def _paths(
        self, log: str | None, before_epoch: int | None
    ) -> list[str]:
        prefix, base_prefix = self._chain(log)
        base = self._last_id(base_prefix)
        paths = []
        if base is not None:
            if before_epoch is not None and base >= before_epoch:
                raise ValueError(
                    f"{prefix} chain as of epoch {before_epoch} is not "
                    f"reconstructible: {base_prefix}{base} already "
                    "folded it in (retry of a compacted epoch — compact "
                    "only epochs whose outputs are durable)"
                )
            paths.append(self._log_dir(base_prefix, base))
        paths += [
            self._log_dir(prefix, e)
            for e in listed_ids(self.out_dir, prefix)
            if (base is None or e > base)
            and (before_epoch is None or e < before_epoch)
        ]
        return paths

    def _read(
        self, log: str | None, before_epoch: int | None
    ) -> DataFrame | None:
        paths = self._paths(log, before_epoch)
        return self.spark.read.parquet(*paths) if paths else None

    def read_store(self, before_epoch: int | None = None) -> DataFrame | None:
        """The store as of ``before_epoch`` (exclusive), or the full
        current store: base + committed deltas, union-read."""
        return self._read(None, before_epoch)

    def read_log(
        self, prefix: str, before_epoch: int | None = None
    ) -> DataFrame | None:
        """A log family's committed dirs, union-read: folded base + the
        per-epoch logs newer than it (only epochs < ``before_epoch``
        when given — the guard-probe shape)."""
        return self._read(prefix, before_epoch)

    def _unseen(
        self,
        batch: DataFrame,
        epoch_id: int,
        key: str = "doc_id",
        log: str | None = None,
        rows: list[str] | None = None,
        on_seen: Callable[[DataFrame, DataFrame], None] | None = None,
    ) -> DataFrame:
        """Re-delivery guard: ``batch`` without in-batch duplicates of
        ``rows`` (default ``[key]``) and, with ``dedupe_guard``, without
        the rows whose ``key`` the store (or log family ``log``) already
        holds from epochs before ``epoch_id``. A backfill re-delivering
        stored keys must not append a second set of rows: duplicates
        would re-emit logged pairs, double an index row or re-log a
        document. ``on_seen(batch, seen_keys)`` runs before the re-seen
        rows are dropped.

        COST MODEL, stated honestly: the probe reads the key column of
        the store or log every epoch — a single-column (column-pruned)
        parquet scan, O(rows stored) per epoch on this format-free
        layout (compaction keeps its file count bounded). The batch's
        distinct keys are tiny and broadcast into a semi-join, so on a
        table bucketed by key at 100 TB the probe prunes to the matching
        buckets. Pipelines whose ingest is at-most-once construct the
        sink with ``dedupe_guard=False`` and skip the probe."""
        batch = batch.dropDuplicates(rows or [key])
        if not self.dedupe_guard:
            return batch
        prior = self._read(log, epoch_id)
        if prior is None:
            return batch
        seen = (
            prior.select(key)
            .join(F.broadcast(batch.select(key).distinct()), key, "leftsemi")
            .distinct()
        )
        if on_seen is not None:
            on_seen(batch, seen)
        return batch.join(F.broadcast(seen), key, "left_anti")

    # ---- size-triggered auto-compaction ----
    #
    # A long-lived stream should not depend on an operator remembering
    # to call compact(): sinks accept ``auto_compact_every=N`` and call
    # maybe_compact() at the end of each epoch, folding the chain
    # whenever N committed deltas have accumulated. The trade is the
    # usual compaction one — each fold rewrites the base (O(store)) —
    # so N sizes the amortization: per-epoch amortized compaction cost
    # is O(store)/N. Compaction runs on the driver inside foreachBatch,
    # AFTER the epoch's own markers land, so a crash mid-compaction
    # leaves a fully committed epoch plus debris the next compact
    # sweeps.

    def maybe_compact(self) -> bool:
        n = self.auto_compact_every
        if n and len(self.committed_delta_epochs()) >= n:
            self.compact()
            return True
        return False

    def _sweep(self, prefix: str, keep: int, below: bool = True) -> None:
        """Remove every ``{prefix}N`` dir, marked or not, with N <=
        ``keep`` (``below``) or N != ``keep`` (superseded bases)."""
        for n in listed_ids(self.out_dir, prefix, committed=False):
            if (n <= keep) if below else (n != keep):
                shutil.rmtree(self._log_dir(prefix, n), ignore_errors=True)

    def fold_log(self, prefix: str, target: int, transform=None) -> None:
        """Fold the family's committed logs <= ``target`` (plus the
        current folded base) into a single new base dir; crash-safe in
        the compact() style (new base commits before any delete, and
        the sweep reclaims debris from previously crashed folds).
        ``transform`` (e.g. a distinct()) may compress the union — it
        must preserve every reader's view of the log contents. Replay
        safety mirrors the store chain: an epoch <= the fold target has
        a committed (now folded) store delta, so its replay returns at
        the replay check before ever reading the folded logs."""
        base_prefix = self._log_base_prefix(prefix)
        base = self._last_id(base_prefix)
        fresh = [
            e
            for e in listed_ids(self.out_dir, prefix)
            if (base is None or e > base) and e <= target
        ]
        if fresh:
            paths = ([self._log_dir(base_prefix, base)] if base is not None else [])
            paths += [self._log_dir(prefix, e) for e in fresh]
            df = self.spark.read.parquet(*paths)
            if transform is not None:
                df = transform(df)
            base = max(fresh)
            self._commit(df, self._log_dir(base_prefix, base))
        elif base is None:
            return
        self._sweep(prefix, base)
        self._sweep(base_prefix, base, below=False)

    def _stage(self, df: DataFrame, epoch_id: int) -> DataFrame:
        """Materialize an epoch's derivation once for two consumers:
        written to ``staged_e{N}`` and read back. ``_unstage`` removes it
        when the epoch is durable; compact() sweeps what a crash
        strands."""
        path = self._log_dir("staged_e", epoch_id)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _unstage(self, epoch_id: int) -> None:
        shutil.rmtree(self._log_dir("staged_e", epoch_id), ignore_errors=True)

    def _compacted(self) -> DataFrame:
        """The frame compact() writes as the new base."""
        return self.read_store()

    def compact(self) -> list[int]:
        """Fold every committed delta into a new base, then fold each
        ``LOGS`` family to the same target. Crash-safe AND leak-free:
        the new base commits before anything is deleted, and the sweep
        removes every delta directory (marked or not) <= the new base
        plus every older base — so garbage from a previously crashed
        sweep is reclaimed by the next compact, even one with nothing
        new to fold. An unmarked delta <= the base can only be crash
        debris: with a checkpointed query, epoch N+1 never starts
        before epoch N's delta committed. Returns the folded delta
        epochs."""
        deltas = self.committed_delta_epochs()
        if deltas:
            self._commit(self._compacted(), self._base_dir(max(deltas)))
        target = self._base_epoch()
        if target is None:
            return []
        self._sweep(self.DELTA_PREFIX, target)
        self._sweep(self.BASE_PREFIX, target, below=False)
        # staging debris (_stage): a crash between an epoch's last marker
        # and its _unstage strands the staged dir. Any staged dir at or
        # below the folded base belongs to a fully-durable epoch that
        # will never be replayed, so it is reclaimable here.
        self._sweep("staged_e", target)
        for prefix, dedupe in self.LOGS.items():
            self.fold_log(
                prefix, target, (lambda df: df.distinct()) if dedupe else None
            )
        return deltas


class PairLogStore(DeltaChainStore):
    """A delta-chain store plus a ``pairs_e`` candidate-pair log: the
    LSH (dedup_stream.py) and winnowing (winnow_stream.py) sinks. Every
    pair lands in exactly one epoch — the one its LATER member arrives
    in — so the union of the pair logs equals the batch pair set."""

    LOGS = {"pairs_e": False}

    def pairs(self) -> DataFrame | None:
        """The pairs output log (folded base + per-epoch logs newer
        than it). Every pair lands in exactly one epoch (the guard's
        job), so the fold is a plain union."""
        return self.read_log("pairs_e")

    def _pair_epoch(
        self,
        batch_df: DataFrame,
        epoch_id: int,
        derive: Callable[[DataFrame], DataFrame],
        keys: list[str],
        count_col: str,
        cap: int | None,
    ) -> bool:
        """One epoch: ``derive`` the (doc_id, *keys) delta from the
        batch's unseen docs and stage it, log the pairs it forms with
        itself and the store (delta_pairs, skew-capped at ``cap``), then
        mark the pairs and THEN the delta — a committed delta implies
        durable pairs, which is what makes compacting committed deltas
        replay-safe. Returns False for a replayed epoch."""
        pairs_done = self._done(epoch_id, "pairs_e")
        delta_done = self._done(epoch_id)
        if pairs_done and delta_done:
            return False
        delta_dir = self._delta_dir(epoch_id)
        # derive ONCE: the staged delta is what both consumers (pair
        # generation and the store chain) read, so the derivation's
        # aggregation never runs twice
        if not is_committed(delta_dir):
            derive(self._unseen(batch_df, epoch_id)).write.mode(
                "overwrite"
            ).parquet(delta_dir)
        new = self.spark.read.parquet(delta_dir)
        if not pairs_done:
            self._commit(
                delta_pairs(
                    new, self.read_store(epoch_id), keys, count_col, cap
                ),
                self._log_dir("pairs_e", epoch_id),
            )
        if not delta_done:
            self._mark(delta_dir)
        return True
