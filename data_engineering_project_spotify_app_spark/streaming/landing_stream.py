"""Incremental maintenance for the shared at-rest landings.

The six derive-once landings (sources/bucketed.py consumers: part
baskets, co-purchase edges, oriented adjacency, minhash/simhash
signatures, word bigrams) were batch rebuild-only: a daily-ingest user
re-paid the FULL corpus derivation on every corpus change, while the
delta-chain machinery that solves exactly this for the IVF index and
dedup stores (streaming/delta_chain.py) sat unused for landings.

This module closes that gap with two foreachBatch maintainers on the
same append-only delta-chain + commit-marker contract as the other
store maintainers:

- ``StreamingDocLandingSink``: any PER-DOCUMENT pure-map landing
  (minhash signatures, simhash fingerprints, word bigrams — the
  transform is a constructor argument). Epoch N appends only
  ``transform(new docs)`` — O(|delta|) — because a row's landing value
  depends on nothing but that row; the full landing is the plain union
  of deltas, split- and order-invariant by construction.
- ``StreamingBasketLandingSink``: the order-basket landing and the
  co-purchase edge landing from a lineitem-shaped stream
  (l_orderkey, l_partkey). Baskets are per-order pure maps (orders
  must arrive whole within one epoch — the natural append-only ingest
  shape, same class of assumption as linedup_stream's ascending
  doc_id); edges are a SET union of per-epoch pair deltas, deduped on
  read/compact — mergeable, hence split-invariant.

``publish()`` lands the current state as the bucketed managed table
the batch consumers expect and adopts it via sources.bucketed.
seed_landing, so every landed_frame consumer (q_minhash_lsh,
q_triangle_count, ...) reads the maintained table with zero query
changes. Every published table takes its bucket count from
sources.bucketed.corpus_buckets(spark, sf_dir), the count the batch
landings of the same corpus get, so co-bucketed joins between a
published and a batch-built landing keep their exchange-free plan.
The adoption is durable: seed_landing records the table's
DDL in a warehouse-resident marker, so consumers in LATER processes
(fresh catalog, same warehouse) re-register and read the published
table too — publish once per compaction, consume from anywhere — for
as long as the corpus fingerprint holds. The oriented adjacency is NOT maintained per-epoch: it is
degree-ordered, and one new edge can flip the orientation of every
edge at both endpoints, so per-epoch maintenance would rewrite
O(degree) neighborhoods anyway. It re-derives from the published edge
landing at publish time — O(|E|), but paid at PUBLISH cadence (the
table-compaction job at 100 TB), never per ingest, and the expensive
upstream stages (the lineitem groupBy and the global edge distinct)
stay incremental.

Scale: per-epoch work is O(|epoch|) writes plus the usual guard probe
(folded ids base + recent epochs — bounded file count after compact);
publish is one bucketed write of the landing, the same job the batch
rebuild ran per corpus change, now decoupled from ingest frequency.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.sources.bucketed import (
    corpus_buckets,
    drop_landed,
    invalidate_landings,
    land_bucketed,
    landing_table_name,
    seed_landing,
)
from data_engineering_project_spotify_app_spark.streaming.delta_chain import (
    DeltaChainStore,
)


class StreamingDocLandingSink(DeltaChainStore):
    """foreachBatch maintainer for any per-document pure-map landing.

    ``transform`` maps a batch of document rows (must carry ``doc_id``)
    to that batch's landing rows (must also carry ``doc_id``). Marker
    order: ids guard log first, then the rows delta — a committed delta
    implies its ids are durable (guard soundness across retries)."""

    DELTA_PREFIX = "rows_e"
    LOGS = {"ids_e": True}

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        transform: Callable[[DataFrame], DataFrame],
        dedupe_guard: bool = True,
        auto_compact_every: int | None = None,
        publish_to: tuple[str, str] | None = None,
    ) -> None:
        """``publish_to=(sf_dir, prefix)`` turns the sink fully
        hands-off: every auto-compaction (requires
        ``auto_compact_every``) is followed by a publish(), so batch
        consumers read a maintained table that refreshes at compaction
        cadence with no operator intervention. The table's bucket
        count is corpus_buckets(spark, sf_dir). Publish rewrites the
        bucketed table — O(store) — which is why it rides the
        compaction trigger rather than every epoch."""
        super().__init__(spark, out_dir, dedupe_guard, auto_compact_every)
        self.transform = transform
        self.publish_to = publish_to

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self._done(epoch_id):
            return  # replayed epoch: delta durable (or folded)
        batch = self._unseen(batch_df, epoch_id, log="ids_e")
        if self.dedupe_guard:
            self._commit(
                batch.select("doc_id"), self._log_dir("ids_e", epoch_id)
            )
        self._commit(self.transform(batch), self._delta_dir(epoch_id))
        if self.maybe_compact() and self.publish_to is not None:
            self.publish(*self.publish_to)

    def current_landing(self) -> DataFrame | None:
        """The landing as of now: plain union of the delta chain (each
        doc contributed exactly once — the guard's job)."""
        return self.read_store()

    def publish(
        self,
        sf_dir: str,
        prefix: str,
        bucket_col: str = "doc_id",
        sort_cols: list[str] | None = None,
    ) -> str:
        """Land the current state as the bucketed managed table batch
        consumers expect, with corpus_buckets(spark, sf_dir) buckets,
        and adopt it as THE landing for (prefix, sf_dir). Returns the
        table name. The published name is suffixed so it never collides
        with a batch-built landing of the same corpus."""
        landing = self.current_landing()
        if landing is None:
            raise ValueError("nothing ingested yet — nothing to publish")
        name = landing_table_name(prefix, sf_dir) + "_streamed"
        n_buckets = corpus_buckets(self.spark, sf_dir)
        land_bucketed(landing, name, bucket_col, n_buckets, sort_cols)
        seed_landing(self.spark, sf_dir, prefix, name)
        return name


class StreamingBasketLandingSink(DeltaChainStore):
    """foreachBatch maintainer of the part-basket landing AND the
    co-purchase edge landing from a (l_orderkey, l_partkey) stream.

    Assumes orders arrive WHOLE within one epoch (append-only order
    ingest). Per epoch: basket rows for the new orders (store delta)
    and the distinct co-occurrence pairs those baskets generate (an
    ``edges_e`` log family, deduped across epochs on read/compact —
    set union is mergeable, so the result is split-invariant). Marker
    order: order-ids guard log, edges log, baskets delta."""

    DELTA_PREFIX = "baskets_e"
    # both set-valued: re-seen order keys, and edges two epochs' orders
    # can both generate — each folds to its distinct rows, so the
    # at-rest edge state is O(distinct edges)
    LOGS = {"ords_e": True, "edges_e": True}

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        dedupe_guard: bool = True,
        auto_compact_every: int | None = None,
        strict_whole_orders: bool = False,
        publish_to: str | None = None,
    ) -> None:
        """``publish_to=sf_dir`` makes the maintainer hands-off the
        same way the doc sink's tuple form does: every auto-compaction
        (requires ``auto_compact_every``) is followed by publish(), so
        the basket AND edge landings (plus the derived adjacency, via
        publish's refresh) track the stream at compaction cadence with
        no operator intervention."""
        super().__init__(spark, out_dir, dedupe_guard, auto_compact_every)
        self.strict_whole_orders = strict_whole_orders
        self.publish_to = publish_to

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from data_engineering_project_spotify_app_spark.operators.graphs import (
            basket_edges,
        )

        if self._done(epoch_id):
            # replayed epoch: reclaim a staged dir stranded by a crash
            # between the delta marker and the success-path _unstage
            self._unstage(epoch_id)
            return
        batch = self._unseen(
            batch_df,
            epoch_id,
            key="l_orderkey",
            log="ords_e",
            rows=["l_orderkey", "l_partkey"],
            on_seen=(
                self._check_redelivery_is_identical
                if self.strict_whole_orders
                else None
            ),
        )
        if self.dedupe_guard:
            self._commit(
                batch.select("l_orderkey").distinct(),
                self._log_dir("ords_e", epoch_id),
            )
        # One derivation per epoch, two consumers (baskets delta + edge
        # log) — staged so the groupBy runs once.
        baskets = self._stage(
            batch.groupBy("l_orderkey").agg(
                F.array_distinct(F.collect_list("l_partkey")).alias("ps")
            ),
            epoch_id,
        )
        self._commit(basket_edges(baskets), self._log_dir("edges_e", epoch_id))
        self._commit(baskets, self._delta_dir(epoch_id))
        self._unstage(epoch_id)
        if self.maybe_compact() and self.publish_to is not None:
            self.publish(self.publish_to)

    def _check_redelivery_is_identical(
        self, batch: DataFrame, already: DataFrame
    ) -> None:
        """strict_whole_orders: the guard drops any re-seen orderkey,
        which is correct for an identical re-delivery but SILENT DATA
        LOSS for an order that was split across epochs (the second
        half's parts would vanish). Distinguish the two by comparing
        the re-seen orders' incoming part-sets against the landed
        baskets and refuse the batch on any difference — the ingest
        violated the whole-orders-per-epoch assumption and must be
        repaired upstream (or the sink rebuilt batch-side). Cost: one
        join on the (rare) re-delivered orders only."""
        landed = self.current_baskets()
        if landed is None:
            return
        incoming = (
            batch.join(F.broadcast(already), "l_orderkey", "leftsemi")
            .groupBy("l_orderkey")
            .agg(
                F.array_sort(
                    F.array_distinct(F.collect_list("l_partkey"))
                ).alias("ps_new")
            )
        )
        diff = (
            incoming.join(
                landed.select(
                    "l_orderkey", F.array_sort("ps").alias("ps_old")
                ),
                "l_orderkey",
            )
            .filter(F.col("ps_new") != F.col("ps_old"))
            .select("l_orderkey")
            .limit(5)
            .collect()
        )
        if diff:
            keys = [r.l_orderkey for r in diff]
            raise ValueError(
                "strict_whole_orders: re-delivered orders arrived with "
                f"DIFFERENT parts than their landed baskets ({keys}...) "
                "— an order was split across epochs, violating the "
                "whole-orders-per-epoch ingest assumption; dropping the "
                "re-delivery would silently lose the new parts"
            )

    def current_baskets(self) -> DataFrame | None:
        return self.read_store()

    def current_edges(self) -> DataFrame | None:
        """Union of per-epoch edge deltas, deduped (two epochs' orders
        can co-purchase the same part pair)."""
        log = self.read_log("edges_e")
        return None if log is None else log.distinct()

    def publish(
        self,
        sf_dir: str,
        refresh_adjacency: bool = True,
    ) -> tuple[str, str]:
        """Land the maintained baskets and edges as the bucketed tables
        the batch consumers expect (corpus_buckets(spark, sf_dir)
        buckets each), adopt both via seed_landing, and
        (by default) drop the derived oriented-adjacency landing so its
        consumers re-derive it from the maintained edges — the O(|E|)
        publish-cadence job discussed in the module docstring. Returns
        (baskets_table, edges_table)."""
        baskets = self.current_baskets()
        edges = self.current_edges()
        if baskets is None or edges is None:
            raise ValueError("nothing ingested yet — nothing to publish")
        n_buckets = corpus_buckets(self.spark, sf_dir)
        bname = landing_table_name("part_baskets", sf_dir) + "_streamed"
        land_bucketed(baskets, bname, "l_orderkey", n_buckets)
        seed_landing(self.spark, sf_dir, "part_baskets", bname)
        ename = landing_table_name("copurchase_edges", sf_dir) + "_streamed"
        land_bucketed(edges, ename, "src", n_buckets, ["src", "dst"])
        seed_landing(self.spark, sf_dir, "copurchase_edges", ename)
        if refresh_adjacency:
            # The adjacency is derived FROM the edge landing: drop its
            # table and this corpus's memos so the next consumer
            # re-derives it from the maintained edges (the seeds above
            # are re-issued since the invalidation clears them too).
            drop_landed(
                self.spark, landing_table_name("oriented_adjacency", sf_dir)
            )
            invalidate_landings(sf_dir)
            seed_landing(self.spark, sf_dir, "part_baskets", bname)
            seed_landing(self.spark, sf_dir, "copurchase_edges", ename)
        return bname, ename

