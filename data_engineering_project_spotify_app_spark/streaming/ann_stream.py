"""Streaming IVF index maintenance: the daily-ingest twin of the
q_ann_ivf family (operators/ivf.py), on the same append-only
delta-chain store as the streaming dedup sinks (delta_chain.py).

Each micro-batch of new vectors is normalized and assigned to its
nearest coarse-quantizer centroid ONCE (broadcast centroids — K tiny),
and the (vec_id, v, nrm, cid) rows are appended as the epoch's delta.
The union of base + deltas IS the inverted index: search probes the
NPROBE nearest lists using the STORED assignments, so the per-vector
assignment cost is paid once at ingest, never per query — the point of
an at-rest IVF index. Because assignment depends only on the vector
and the (fixed) centroids, the streamed index is row-identical to the
batch-built one, and search over it equals the batch q_ann_ivf result
exactly (pinned in tests/test_streaming_ann.py across splits, replays,
and compactions).

The coarse quantizer is trained ONCE and held fixed — the standard IVF
operating mode; re-training centroids is an index REBUILD (a batch
job), not an incremental update, because every stored assignment would
change. ``StreamingIvfIndexSink.rebuild_index`` implements that job:
retrain (or take) new centroids, reassign EVERY stored vector, and
write a fresh store whose base folds the whole index — into a NEW
directory, because a rebuild rewrites every row and an in-place base
overwrite would have a crash window where the live index is gone.
Callers swap to the returned sink (restarting the stream with the same
checkpoint, so epoch ids stay monotone). At 100 TB the store is a
table partitioned by cid (the q_ann_ivf_partitioned layout) so probed
search prunes to the probed lists' partitions; the delta chain here is
the format-free stand-in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_engineering_project_spotify_app_spark.operators.ivf import (
    IVF_TOPK,
    NPROBE,
    deterministic_centroids as _det_centroids,
    probed_search,
)
from data_engineering_project_spotify_app_spark.operators.similarity import dot
from data_engineering_project_spotify_app_spark.streaming.delta_chain import (
    DeltaChainStore,
)
from data_engineering_project_spotify_app_spark.streaming.sinks import (
    is_committed,
)

VEC_SCHEMA = "vec_id long, embedding array<double>"


def stream_vectors(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """NDJSON vector file stream (vec_id, embedding) — one file per
    micro-batch at the default trigger, mirroring stream_documents."""
    return (
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )


# re-export: the coarse quantizer lives with the batch operator so all
# three consumers (q_ann_ivf, q_ann_ivf_partitioned, this sink) share
# ONE spelling of the oracle-pinned convention
deterministic_centroids = _det_centroids


def _normed(batch: DataFrame) -> DataFrame:
    v = F.col("embedding").cast("array<double>")
    return batch.select(
        "vec_id",
        v.alias("v"),
        F.sqrt(dot(v, v)).alias("nrm"),
    )


def _assign(n: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment of a (vec_id, v, nrm) frame — the
    identical cosine ranking (round(4), cid tie-break) as the batch
    probed_search's in-plan assignment, so streamed/rebuilt indexes
    stay row-identical to batch builds. Centroids broadcast (K tiny)."""
    csim = F.round(
        dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")), 4
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), "cid")
    return (
        n.crossJoin(F.broadcast(centroids))
        .select("vec_id", "v", "nrm", "cid", csim.alias("csim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "nrm", "cid")
    )


def retrain_centroids(
    index: DataFrame, k: int, seed: int = 42, max_iter: int = 10
) -> DataFrame:
    """Retrain the coarse quantizer from the at-rest index: seed-pinned
    spherical-ish k-means over the stored unit vectors (the
    q_ann_ivf_kmeans recipe — normalize, fit, centers re-enter as a
    (cid, cv, cnrm) frame). The fit is distributed Lloyd iterations;
    the K×DIM centers are driver-collected (KB-sized)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    unit = index.filter(F.col("nrm") > 0).select(
        F.transform("v", lambda x: x / F.col("nrm")).alias("u")
    )
    feats = unit.select(array_to_vector(F.col("u")).alias("features"))
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, initMode="k-means||"
    ).fit(feats)
    centers = [
        (i, [float(x) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    spark = index.sparkSession
    return spark.createDataFrame(
        centers, "cid int, cv array<double>"
    ).select("cid", "cv", F.sqrt(dot(F.col("cv"), F.col("cv"))).alias("cnrm"))


class StreamingIvfIndexSink(DeltaChainStore):
    """foreachBatch maintainer of an at-rest IVF index: per-epoch
    (vec_id, v, nrm, cid) deltas, assignment paid once at ingest."""

    DELTA_PREFIX = "vecs_e"

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        centroids: DataFrame,
        auto_compact_every: int | None = None,
    ) -> None:
        super().__init__(spark, out_dir, auto_compact_every=auto_compact_every)
        self.centroids = centroids

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self._done(epoch_id):
            return  # replayed epoch: delta durable (or folded)
        # a re-delivered vec_id must not produce a second index row
        # (it would double-emit a neighbor and evict a true top-k hit —
        # breaking the ==batch-q_ann_ivf contract)
        n = self._unseen(_normed(batch_df), epoch_id, key="vec_id")
        self._commit(_assign(n, self.centroids), self._delta_dir(epoch_id))
        self.maybe_compact()

    def current_index(self) -> DataFrame | None:
        return self.read_store()

    def search(
        self, nprobe: int = NPROBE, topk: int = IVF_TOPK
    ) -> DataFrame | None:
        """Probed top-k over the streamed index using the STORED
        assignments: the SAME oracle-pinned search DAG as the batch
        operator (operators/ivf.probed_search), with the corpus-wide
        assignment stage skipped — it was paid once at ingest. Queries
        are the q_ann_ivf convention (vec_id < IVF_QUERIES); output
        schema matches q_ann_ivf exactly:
        (query_id, neighbor_id, sim, rnk)."""
        index = self.current_index()
        if index is None:
            return None
        # topk must flow INTO probed_search: it ranks and filters
        # rnk <= topk internally, so a post-hoc filter on its output
        # could never widen a smaller internal default.
        return probed_search(
            index.select("vec_id", "v", "nrm"),
            self.centroids,
            nprobe=nprobe,
            assign=index.select("vec_id", "cid"),
            topk=topk,
        )

    def rebuild_index(
        self,
        out_dir: str,
        centroids: DataFrame | None = None,
        k: int | None = None,
    ) -> "StreamingIvfIndexSink":
        """Centroid re-train = index REBUILD: take ``centroids`` (or
        retrain k=|old centroid set| via retrain_centroids from the
        at-rest vectors), reassign EVERY stored vector, and write a
        fresh delta-chain store in ``out_dir`` whose base folds the
        entire current index at the current max epoch. The returned
        sink keeps this sink's ``auto_compact_every``.

        A NEW directory is required (same-dir rebuild raises): every
        stored row changes cid, so the rebuild is a full-store rewrite,
        and rewriting the live base in place would open a crash window
        with no committed base and its deltas already swept — the old
        index must stay intact until the new store's marker lands.
        Callers swap to the returned sink and restart the stream with
        the SAME checkpoint: epoch ids continue monotone, so a replay
        of any pre-rebuild epoch sees base >= epoch_id and no-ops,
        while genuinely new epochs land as deltas on the new base.

        Search over the rebuilt index equals the batch build-and-search
        on the same new centroids exactly (pinned in
        tests/test_streaming_ann.py::test_rebuild_equals_fresh_batch_build).
        """
        if os.path.abspath(out_dir) == os.path.abspath(self.out_dir):
            raise ValueError(
                "rebuild_index requires a fresh out_dir: an in-place "
                "base rewrite would leave no committed store if the "
                "rebuild crashes mid-write"
            )
        index = self.current_index()
        if index is None:
            raise ValueError("rebuild_index: the current index is empty")
        if centroids is None:
            k = k if k is not None else self.centroids.count()
            centroids = retrain_centroids(index, k=k)
        epochs = self.committed_delta_epochs()
        base = self._base_epoch()
        target = max(epochs + ([base] if base is not None else []))
        new_sink = StreamingIvfIndexSink(
            self.spark, out_dir, centroids, self.auto_compact_every
        )
        os.makedirs(out_dir, exist_ok=True)
        new_sink._commit(
            _assign(index.select("vec_id", "v", "nrm"), centroids),
            new_sink._base_dir(target),
        )
        return new_sink

    def catch_up(self, old_sink: "StreamingIvfIndexSink") -> list[int]:
        """The swap protocol's second half: fold epochs that committed
        to ``old_sink`` BETWEEN the rebuild snapshot and the swap into
        this (rebuilt) store — reassigned under the new centroids, at
        their ORIGINAL epoch ids, so the shared checkpoint's ids stay
        monotone and a replay of a caught-up epoch no-ops against this
        store's markers.

        Call order for a live-stream rebuild: (1) rebuild_index while
        the old query keeps ingesting, (2) stop the old query, (3)
        catch_up(old) — idempotent, so crash-and-retry is safe, (4)
        restart the stream with the SAME checkpoint against the new
        sink. Epochs arriving after the restart land as ordinary new
        deltas here. Returns the caught-up epoch ids."""
        base = self._base_epoch()
        caught = []
        for e in old_sink.committed_delta_epochs():
            if base is not None and e <= base:
                continue  # already folded into the rebuilt base
            delta_dir = self._delta_dir(e)
            if is_committed(delta_dir):
                continue  # a crashed catch_up already landed it
            rows = self.spark.read.parquet(old_sink._delta_dir(e))
            self._commit(
                _assign(rows.select("vec_id", "v", "nrm"), self.centroids),
                delta_dir,
            )
            caught.append(e)
        return caught

