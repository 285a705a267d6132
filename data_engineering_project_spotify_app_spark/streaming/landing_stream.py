"""Incremental maintenance for the shared at-rest landings.

The six derive-once landings (sources/bucketed.py consumers: part
baskets, co-purchase edges, oriented adjacency, minhash/simhash
signatures, word bigrams) were batch rebuild-only: a daily-ingest user
re-paid the FULL corpus derivation on every corpus change, while the
delta-chain machinery that solves exactly this for the IVF index and
dedup stores (streaming/delta_chain.py) sat unused for landings.

This module closes that gap with two foreachBatch maintainers on the
same append-only delta-chain + commit-marker contract as the four
existing store maintainers:

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
changes. The adoption is durable: seed_landing records the table's
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

import os
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
from data_engineering_project_spotify_app_spark.streaming.sinks import (
    resolve_checkpoint,
)


class StreamingDocLandingSink(DeltaChainStore):
    """foreachBatch maintainer for any per-document pure-map landing.

    ``transform`` maps a batch of document rows (must carry ``doc_id``)
    to that batch's landing rows (must also carry ``doc_id``). Marker
    order: ids guard log first, then the rows delta — a committed delta
    implies its ids are durable (guard soundness across retries)."""

    DELTA_PREFIX = "rows_e"

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        transform: Callable[[DataFrame], DataFrame],
        dedupe_guard: bool = True,
        auto_compact_every: int | None = None,
        publish_to: tuple[str, str, int] | None = None,
    ) -> None:
        """``publish_to=(sf_dir, prefix, n_buckets)`` turns the sink
        fully hands-off: every auto-compaction (requires
        ``auto_compact_every``) is followed by a publish(), so batch
        consumers read a maintained table that refreshes at compaction
        cadence with no operator intervention. Publish rewrites the
        bucketed table — O(store) — which is why it rides the
        compaction trigger rather than every epoch."""
        self.spark = spark
        self.out_dir = out_dir
        self.transform = transform
        self.dedupe_guard = dedupe_guard
        self.auto_compact_every = auto_compact_every
        self.publish_to = publish_to

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        delta_dir = self._delta_dir(epoch_id)
        base = self._base_epoch()
        if self._committed(delta_dir) or (
            base is not None and base >= epoch_id
        ):
            return  # replayed epoch: delta durable (or folded)
        batch = batch_df.dropDuplicates(["doc_id"])
        if self.dedupe_guard:
            prior = self.read_log("ids_e", before_epoch=epoch_id)
            if prior is not None:
                already = prior.select("doc_id").join(
                    F.broadcast(batch.select("doc_id")), "doc_id", "leftsemi"
                ).distinct()
                batch = batch.join(
                    F.broadcast(already), "doc_id", "left_anti"
                )
            ids_dir = self._log_dir("ids_e", epoch_id)
            batch.select("doc_id").write.mode("overwrite").parquet(ids_dir)
            self._mark(ids_dir)
        self.transform(batch).write.mode("overwrite").parquet(delta_dir)
        self._mark(delta_dir)
        if self.maybe_compact() and self.publish_to is not None:
            sf_dir, prefix, n_buckets = self.publish_to
            self.publish(sf_dir, prefix, n_buckets)

    def current_landing(self) -> DataFrame | None:
        """The landing as of now: plain union of the delta chain (each
        doc contributed exactly once — the guard's job)."""
        return self.read_store()

    def compact(self) -> list[int]:
        folded = super().compact()
        base = self._base_epoch()
        if self.dedupe_guard and base is not None:
            self.fold_log(
                "ids_e",
                base,
                transform=lambda df: df.select("doc_id").distinct(),
            )
        return folded

    def publish(
        self,
        sf_dir: str,
        prefix: str,
        n_buckets: int,
        bucket_col: str = "doc_id",
        sort_cols: list[str] | None = None,
    ) -> str:
        """Land the current state as the bucketed managed table batch
        consumers expect and adopt it as THE landing for
        (prefix, sf_dir). Returns the table name. The published name is
        suffixed so it never collides with a batch-built landing of the
        same corpus."""
        landing = self.current_landing()
        if landing is None:
            raise ValueError("nothing ingested yet — nothing to publish")
        name = landing_table_name(prefix, sf_dir) + "_streamed"
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
        no operator intervention. Bucket counts use publish()'s
        defaults: corpus_buckets(spark, sf_dir), the count the batch
        landings of the same corpus get."""
        self.spark = spark
        self.out_dir = out_dir
        self.dedupe_guard = dedupe_guard
        self.auto_compact_every = auto_compact_every
        self.strict_whole_orders = strict_whole_orders
        self.publish_to = publish_to

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from data_engineering_project_spotify_app_spark.operators.graphs import (
            basket_edges,
        )

        delta_dir = self._delta_dir(epoch_id)
        base = self._base_epoch()
        if self._committed(delta_dir) or (
            base is not None and base >= epoch_id
        ):
            # replayed epoch: reclaim a staged dir stranded by a crash
            # between the delta marker and the success-path rmtree
            # (same crash-debris handling as linedup_stream's replay)
            import shutil

            shutil.rmtree(
                os.path.join(self.out_dir, f"staged_e{epoch_id}"),
                ignore_errors=True,
            )
            return
        batch = batch_df.dropDuplicates(["l_orderkey", "l_partkey"])
        if self.dedupe_guard:
            prior = self.read_log("ords_e", before_epoch=epoch_id)
            if prior is not None:
                already = prior.select("l_orderkey").join(
                    F.broadcast(batch.select("l_orderkey").distinct()),
                    "l_orderkey",
                    "leftsemi",
                ).distinct()
                if self.strict_whole_orders:
                    self._check_redelivery_is_identical(batch, already)
                batch = batch.join(
                    F.broadcast(already), "l_orderkey", "left_anti"
                )
            ids_dir = self._log_dir("ords_e", epoch_id)
            batch.select("l_orderkey").distinct().write.mode(
                "overwrite"
            ).parquet(ids_dir)
            self._mark(ids_dir)
        # One derivation per epoch, two consumers (baskets delta + edge
        # log) — stage the baskets like linedup stages its chunked
        # lines, so the groupBy runs once.
        staged = os.path.join(self.out_dir, f"staged_e{epoch_id}")
        baskets = batch.groupBy("l_orderkey").agg(
            F.array_distinct(F.collect_list("l_partkey")).alias("ps")
        )
        baskets.write.mode("overwrite").parquet(staged)
        baskets = self.spark.read.parquet(staged)
        edges_dir = self._log_dir("edges_e", epoch_id)
        basket_edges(baskets).write.mode("overwrite").parquet(edges_dir)
        self._mark(edges_dir)
        baskets.write.mode("overwrite").parquet(delta_dir)
        self._mark(delta_dir)
        import shutil

        shutil.rmtree(staged, ignore_errors=True)
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

    def compact(self) -> list[int]:
        folded = super().compact()
        base = self._base_epoch()
        if base is not None:
            if self.dedupe_guard:
                self.fold_log(
                    "ords_e",
                    base,
                    transform=lambda df: df.select("l_orderkey").distinct(),
                )
            # pre-dedup the folded edge base so the at-rest state is
            # O(distinct edges), not O(sum of epoch pair counts)
            self.fold_log(
                "edges_e", base, transform=lambda df: df.distinct()
            )
        return folded

    def publish(
        self,
        sf_dir: str,
        basket_buckets: int | None = None,
        edge_buckets: int | None = None,
        refresh_adjacency: bool = True,
    ) -> tuple[str, str]:
        """Land the maintained baskets and edges as the bucketed tables
        the batch consumers expect, adopt both via seed_landing, and
        (by default) drop the derived oriented-adjacency landing so its
        consumers re-derive it from the maintained edges — the O(|E|)
        publish-cadence job discussed in the module docstring. Returns
        (baskets_table, edges_table)."""
        baskets = self.current_baskets()
        edges = self.current_edges()
        if baskets is None or edges is None:
            raise ValueError("nothing ingested yet — nothing to publish")
        n_buckets = corpus_buckets(self.spark, sf_dir)
        bb = basket_buckets or n_buckets
        eb = edge_buckets or n_buckets
        bname = landing_table_name("part_baskets", sf_dir) + "_streamed"
        land_bucketed(baskets, bname, "l_orderkey", bb)
        seed_landing(self.spark, sf_dir, "part_baskets", bname)
        ename = landing_table_name("copurchase_edges", sf_dir) + "_streamed"
        land_bucketed(edges, ename, "src", eb, sort_cols=["src", "dst"])
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


def maintain_doc_landing(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    name: str,
    transform: Callable[[DataFrame], DataFrame],
    checkpoint_dir: str | None = None,
    dedupe_guard: bool = True,
    auto_compact_every: int | None = None,
):
    """Attach a per-document landing maintainer to a document stream;
    returns (query, sink). checkpointLocation is always set — durable
    monotone epoch ids are what make the marker contract exactly-once
    (see delta_chain.py)."""
    sink = StreamingDocLandingSink(
        spark,
        out_dir,
        transform,
        dedupe_guard=dedupe_guard,
        auto_compact_every=auto_compact_every,
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .queryName(name)
        .option(
            "checkpointLocation", resolve_checkpoint(out_dir, checkpoint_dir)
        )
        .foreachBatch(sink)
        .start()
    )
    return q, sink


def maintain_basket_landing(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    name: str,
    checkpoint_dir: str | None = None,
    dedupe_guard: bool = True,
    auto_compact_every: int | None = None,
    publish_to: str | None = None,
):
    """Attach the basket+edge landing maintainer to a lineitem-shaped
    stream; returns (query, sink). ``publish_to=sf_dir`` (with
    ``auto_compact_every``) auto-publishes both landings at compaction
    cadence."""
    sink = StreamingBasketLandingSink(
        spark,
        out_dir,
        dedupe_guard=dedupe_guard,
        auto_compact_every=auto_compact_every,
        publish_to=publish_to,
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .queryName(name)
        .option(
            "checkpointLocation", resolve_checkpoint(out_dir, checkpoint_dir)
        )
        .foreachBatch(sink)
        .start()
    )
    return q, sink
