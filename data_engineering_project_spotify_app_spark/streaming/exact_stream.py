"""Streaming exact-content dedup: the streaming twin of
``q_dedup_exact`` (operators/dedup.py:78), completing the dedup
ladder's streaming story (exact here, MinHash-LSH in dedup_stream.py,
C4 line dedup in linedup_stream.py, ANN index in ann_stream.py).

The batch semantics — group by md5(text), keep min doc_id, count
copies — are MERGEABLE AGGREGATES (min and sum are order- and
split-invariant), so unlike the line-dedup twin this equivalence needs
no ingest-order assumption: for ANY micro-batch split of the corpus,
re-aggregating the union of per-epoch deltas equals the batch
recompute exactly (pinned in tests/test_streaming_dedup.py).

State is the usual append-only delta chain (delta_chain.py): epoch N
appends only its own batch's per-hash partials — O(|delta|) rows,
16-byte digest key, uniform by construction. Readers re-aggregate on
read (one hash agg over base+deltas); compact() folds the chain into
a PRE-MERGED base, so the at-rest state stays O(distinct hashes)
rather than O(Σ deltas).

STORE FORMAT v2 (deliberate delta-schema break, round 10): the per-
hash partial is ``(text_hash, keep_id, n_copies, chars_all,
chars_kept)`` — the two character columns are what the streamed
``q_dup_inflation`` report needs, and both stay mergeable (sum;
min_by over the winning keep_id). v1 stores (no chars columns) are
NOT silently read: ``read_store`` raises with a rebuild instruction,
because back-filling chars as null would corrupt every downstream
sum. Stores are derived state — rebuilding from the source stream is
always possible and is the honest migration.

Cross-epoch duplicate-id guard (mirror of the other sinks'): the hash
state collapses doc_ids away, so re-delivery detection needs its own
record — a per-epoch single-column ids log, probed with a broadcast
semi-join. Same honest cost model as the LSH sink: a column-pruned
O(ids logged) scan per epoch on this format-free layout (a bucketed
ids table prunes it at 100 TB); at-most-once pipelines pass
``dedupe_guard=False`` and skip both the probe and the ids log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.streaming.delta_chain import (
    DeltaChainStore,
)


class StreamingExactDedupSink(DeltaChainStore):
    """foreachBatch maintainer of the exact-dedup hash state. Marker
    order inside an epoch: ids log first, then the state delta — a
    committed delta implies its ids are durable, which keeps the guard
    sound across retries (a replayed epoch's guard only reads epochs
    strictly before it)."""

    DELTA_PREFIX = "exact_e"
    # the guard only needs the SET of seen doc_ids: union-mergeable, so
    # the ids logs fold (deduplicated) to the store's target
    LOGS = {"ids_e": True}

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self._done(epoch_id):
            return  # replayed epoch: delta durable (or folded)
        self._check_chain_v2()
        batch = self._unseen(batch_df, epoch_id, log="ids_e")
        if self.dedupe_guard:
            self._commit(
                batch.select("doc_id"), self._log_dir("ids_e", epoch_id)
            )
        # chars default to length(text) so plain (doc_id, text) streams
        # need no extra column; a pre-computed n_chars is used verbatim
        chars = (
            F.col("n_chars")
            if "n_chars" in batch.columns
            else F.length("text")
        )
        delta = (
            batch.select(
                F.md5("text").alias("text_hash"),
                "doc_id",
                chars.cast("bigint").alias("n_chars"),
            )
            .groupBy("text_hash")
            .agg(
                F.min("doc_id").alias("keep_id"),
                F.count("*").alias("n_copies"),
                F.sum("n_chars").alias("chars_all"),
                F.min_by("n_chars", "doc_id").alias("chars_kept"),
            )
        )
        self._commit(delta, self._delta_dir(epoch_id))
        self.maybe_compact()

    _V2_COLS = ("chars_all", "chars_kept")
    _chain_checked = False

    def _check_chain_v2(self) -> None:
        """Refuse a v1 (or mixed) chain at WRITE time, per committed
        dir: the read-time guard alone is schema-inference-order
        dependent — appending v2 deltas to an existing v1 chain can let
        a v2 file win inference, surface v1 rows as null chars, pass
        the read-time column check, and silently corrupt the character
        sums (ADVICE r10 item 2). One parquet footer read per committed
        dir, once per sink lifetime (epochs this sink writes afterwards
        are v2 by construction)."""
        if self._chain_checked:
            return
        dirs = [self._delta_dir(e) for e in self.committed_delta_epochs()]
        b = self._base_epoch()
        if b is not None:
            dirs.append(self._base_dir(b))
        for d in dirs:
            cols = self.spark.read.parquet(d).columns
            if not all(c in cols for c in self._V2_COLS):
                raise ValueError(
                    f"exact-dedup chain dir {d} is format v1 (no chars "
                    "columns); refusing to append v2 deltas to it — "
                    "delete the store and replay the stream to rebuild "
                    "it in v2 (stores are derived state; the source "
                    "stream is the durable record)"
                )
        self._chain_checked = True

    def read_store(self, before_epoch: int | None = None) -> DataFrame | None:
        # per-dir check first: catches MIXED chains that per-column
        # inspection of the merged frame would miss (see _check_chain_v2)
        self._check_chain_v2()
        store = super().read_store(before_epoch)
        if store is not None and not all(
            c in store.columns for c in self._V2_COLS
        ):
            raise ValueError(
                "exact-dedup store at "
                f"{self.out_dir} is format v1 (no chars columns); "
                "back-filling nulls would corrupt the character sums — "
                "delete the store and replay the stream to rebuild it "
                "in v2 (stores are derived state; the source stream is "
                "the durable record)"
            )
        return store

    def current_state(self) -> DataFrame | None:
        """The streamed equivalent of the batch q_dedup_exact result:
        re-aggregate the delta chain (min, sum, and chars-of-the-
        winning-keep are mergeable, so this is one hash agg regardless
        of how many epochs contributed)."""
        store = self.read_store()
        if store is None:
            return None
        return store.groupBy("text_hash").agg(
            F.min("keep_id").alias("keep_id"),
            F.sum("n_copies").alias("n_copies"),
            F.sum("chars_all").alias("chars_all"),
            # each partial's chars_kept belongs to its keep_id; the
            # merged group keeps the chars of the GLOBAL min keep_id
            F.min_by("chars_kept", "keep_id").alias("chars_kept"),
        )

    def dup_inflation_report(self) -> DataFrame | None:
        """Streamed twin of ``q_dup_inflation`` (operators/
        diagnostics.py): copy-count buckets with the characters a
        keep-min-doc_id dedup would reclaim, derived from the
        maintained hash state — a 3-row aggregate over O(distinct
        hashes), never a rescan of the corpus. Equals the batch report
        for ANY micro-batch split (all inputs are mergeable aggregates;
        pinned in tests/test_streaming_dedup.py)."""
        state = self.current_state()
        if state is None:
            return None
        bucket = (
            F.when(F.col("n_copies") == 1, "unique")
            .when(F.col("n_copies") <= 3, "x2_x3")
            .otherwise("x4_plus")
        )
        return state.groupBy(bucket.alias("bucket")).agg(
            F.count("*").alias("n_groups"),
            F.sum("n_copies").alias("n_docs"),
            F.sum("chars_all").alias("n_chars"),
            F.sum(F.col("chars_all") - F.col("chars_kept")).alias(
                "chars_redundant"
            ),
        )

    def _compacted(self) -> DataFrame:
        """compact() folds committed deltas into a PRE-MERGED base (the
        mergeable aggregates make the merged form equivalent for every
        reader), so the at-rest state is O(distinct hashes)."""
        return self.current_state()
