"""Append-only delta-chain store machinery shared by the streaming
dedup sinks (dedup_stream.py, linedup_stream.py, winnow_stream.py), and
the delta-only pair generator (``delta_pairs``) the LSH and winnowing
sinks run each epoch.

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
- ``_COMMITTED`` marker files gate visibility: readers see only marked
  directories, and ignore deltas <= the base epoch even if a crashed
  compaction sweep left them behind.

Epoch ids must be durable and monotone for the marker contract to give
exactly-once — which is why the ``maintain_*`` helpers always set a
``checkpointLocation``: without one, a restarted query re-lists the
source and restarts epoch ids at 0, landing new data on epoch ids
whose markers already exist — silent data loss, not replay safety.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.functions.pairs import (
    sorted_pairs,
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
    """Mixin: subclasses set ``DELTA_PREFIX``/``BASE_PREFIX`` and
    provide ``self.spark`` and ``self.out_dir``."""

    DELTA_PREFIX = "delta_e"
    BASE_PREFIX = "base_v"

    def _delta_dir(self, epoch_id: int) -> str:
        return os.path.join(self.out_dir, f"{self.DELTA_PREFIX}{epoch_id}")

    def _base_dir(self, version: int) -> str:
        return os.path.join(self.out_dir, f"{self.BASE_PREFIX}{version}")

    def _committed(self, path: str) -> bool:
        return os.path.exists(os.path.join(path, "_COMMITTED"))

    def _mark(self, path: str) -> None:
        with open(os.path.join(path, "_COMMITTED"), "w") as fh:
            fh.write("ok\n")

    def _committed_ids(self, prefix: str) -> list[int]:
        if not os.path.isdir(self.out_dir):
            return []
        return sorted(
            int(n[len(prefix):])
            for n in os.listdir(self.out_dir)
            if n.startswith(prefix)
            and n[len(prefix):].isdigit()
            and self._committed(os.path.join(self.out_dir, n))
        )

    def _all_ids(self, prefix: str) -> list[int]:
        """Like _committed_ids but including UNMARKED directories —
        compaction's sweep uses this to reclaim crash garbage."""
        if not os.path.isdir(self.out_dir):
            return []
        return sorted(
            int(n[len(prefix):])
            for n in os.listdir(self.out_dir)
            if n.startswith(prefix) and n[len(prefix):].isdigit()
        )

    def _base_epoch(self) -> int | None:
        bases = self._committed_ids(self.BASE_PREFIX)
        return bases[-1] if bases else None

    def committed_delta_epochs(self) -> list[int]:
        """Committed delta epochs not yet folded into the base
        (superseded deltas are ignored even if a crashed compaction
        sweep left their directories behind)."""
        base = self._base_epoch()
        return [
            v
            for v in self._committed_ids(self.DELTA_PREFIX)
            if base is None or v > base
        ]

    def _store_paths(self, before_epoch: int | None = None) -> list[str]:
        base = self._base_epoch()
        paths = []
        if base is not None:
            if before_epoch is not None and base >= before_epoch:
                raise ValueError(
                    f"store as of epoch {before_epoch} is not "
                    f"reconstructible: {self.BASE_PREFIX}{base} already "
                    "folded it in (retry of a compacted epoch — compact "
                    "only epochs whose output logs are durable)"
                )
            paths.append(self._base_dir(base))
        paths += [
            self._delta_dir(v)
            for v in self.committed_delta_epochs()
            if before_epoch is None or v < before_epoch
        ]
        return paths

    def read_store(self, before_epoch: int | None = None) -> DataFrame | None:
        """The store as of ``before_epoch`` (exclusive), or the full
        current store: base + committed deltas, union-read."""
        paths = self._store_paths(before_epoch)
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

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
        n = getattr(self, "auto_compact_every", None)
        if n and len(self.committed_delta_epochs()) >= n:
            self.compact()
            return True
        return False

    # ---- secondary per-epoch log families (guard ids, output docs) ----
    #
    # Several sinks keep a SECOND per-epoch log family next to the store
    # deltas (exact_stream's ids_e duplicate-guard logs, linedup_stream's
    # docs_e cleaned-document logs). Without their own compaction these
    # grow one tiny parquet dir per epoch forever — unbounded file count
    # and listing cost over a long-lived stream even after the store
    # chain is compacted. The helpers below give any ``{prefix}{N}``
    # family the same fold-into-base treatment: logs are union-mergeable
    # by construction (a set of ids / a bag of doc rows), so folding
    # epochs <= the store's own compaction target into one
    # ``{family}_base{target}`` dir preserves every reader's view.
    # Replay safety mirrors the store chain: an epoch <= the fold target
    # has a committed (now folded) store delta, so its replay returns at
    # the base check before ever reading the folded logs.

    def _log_dir(self, prefix: str, epoch_or_version: int) -> str:
        return os.path.join(self.out_dir, f"{prefix}{epoch_or_version}")

    @staticmethod
    def _log_base_prefix(prefix: str) -> str:
        # "ids_e" -> "ids_base", "docs_e" -> "docs_base"
        assert prefix.endswith("_e"), prefix
        return prefix[:-2] + "_base"

    def _log_base_epoch(self, prefix: str) -> int | None:
        bases = self._committed_ids(self._log_base_prefix(prefix))
        return bases[-1] if bases else None

    def log_paths(
        self, prefix: str, before_epoch: int | None = None
    ) -> list[str]:
        """Committed log dirs of a family: folded base + per-epoch logs
        newer than it (optionally only epochs < ``before_epoch`` — the
        guard-probe shape)."""
        base = self._log_base_epoch(prefix)
        paths = []
        if base is not None:
            if before_epoch is not None and base >= before_epoch:
                raise ValueError(
                    f"{prefix} log as of epoch {before_epoch} is not "
                    f"reconstructible: {self._log_base_prefix(prefix)}"
                    f"{base} already folded it in (fold only epochs "
                    "whose store deltas are committed)"
                )
            paths.append(self._log_dir(self._log_base_prefix(prefix), base))
        paths += [
            self._log_dir(prefix, e)
            for e in self._committed_ids(prefix)
            if (base is None or e > base)
            and (before_epoch is None or e < before_epoch)
        ]
        return paths

    def read_log(
        self, prefix: str, before_epoch: int | None = None
    ) -> DataFrame | None:
        paths = self.log_paths(prefix, before_epoch)
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def fold_log(self, prefix: str, target: int, transform=None) -> None:
        """Fold the family's committed logs <= ``target`` (plus the
        current folded base) into a single new base dir; crash-safe in
        the compact() style (new base commits before any delete, and
        the sweep reclaims debris from previously crashed folds).
        ``transform`` (e.g. a distinct()) may compress the union — it
        must preserve every reader's view of the log contents."""
        import shutil as _shutil

        base_prefix = self._log_base_prefix(prefix)
        base = self._log_base_epoch(prefix)
        fresh = [
            e
            for e in self._committed_ids(prefix)
            if (base is None or e > base) and e <= target
        ]
        if fresh:
            paths = ([self._log_dir(base_prefix, base)] if base is not None else [])
            paths += [self._log_dir(prefix, e) for e in fresh]
            df = self.spark.read.parquet(*paths)
            if transform is not None:
                df = transform(df)
            new_base = max(fresh)
            df.write.mode("overwrite").parquet(
                self._log_dir(base_prefix, new_base)
            )
            self._mark(self._log_dir(base_prefix, new_base))
        else:
            new_base = base
            if new_base is None:
                return
        for e in self._all_ids(prefix):
            if e <= new_base:
                _shutil.rmtree(self._log_dir(prefix, e), ignore_errors=True)
        for b in self._all_ids(base_prefix):
            if b != new_base:
                _shutil.rmtree(
                    self._log_dir(base_prefix, b), ignore_errors=True
                )

    def compact(self) -> list[int]:
        """Fold every committed delta into a new base; the sinks'
        output logs (pairs/docs) are never touched. Crash-safe AND
        leak-free: the new base commits before anything is deleted, and
        the sweep removes every delta directory (marked or not) <= the
        new base plus every older base — so garbage from a previously
        crashed sweep is reclaimed by the next compact. An unmarked
        delta <= the base can only be crash debris: with a checkpointed
        query, epoch N+1 never starts before epoch N's delta committed.
        Returns the folded delta epochs."""
        deltas = self.committed_delta_epochs()
        if deltas:
            target = max(deltas)
            self.read_store().write.mode("overwrite").parquet(
                self._base_dir(target)
            )
            self._mark(self._base_dir(target))
        else:
            # nothing new to fold — but still run the sweep below so
            # debris from a previously CRASHED sweep (folded deltas and
            # superseded bases left on disk) is reclaimed rather than
            # leaking until new epochs happen to arrive
            target = self._base_epoch()
            if target is None:
                return []
        for v in self._all_ids(self.DELTA_PREFIX):
            if v <= target:
                shutil.rmtree(self._delta_dir(v), ignore_errors=True)
        for b in self._all_ids(self.BASE_PREFIX):
            # every other base — marked ones are superseded, unmarked
            # ones are debris from a crashed base write
            if b != target:
                shutil.rmtree(self._base_dir(b), ignore_errors=True)
        # staging debris: sinks that materialize an epoch's derivation
        # once for two consumers (linedup_stream, the basket sink) stage
        # it to staged_e{N} and rmtree on success — a crash between the
        # last marker and that rmtree strands the staged dir, and the
        # delta/base sweep above never names it. Any staged dir at or
        # below the folded base belongs to a fully-durable epoch that
        # will never be replayed, so it is reclaimable here (ADVICE r9).
        for s in self._all_ids("staged_e"):
            if s <= target:
                shutil.rmtree(
                    os.path.join(self.out_dir, f"staged_e{s}"),
                    ignore_errors=True,
                )
        return deltas
