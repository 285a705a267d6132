"""The streaming layer's exactly-once protocol, in one place.

The reference's sink is at-least-once and non-atomic (threaded uploads,
partial state on failure — app.py:203–211, SURVEY.md §4). The streaming
engine upgrades that with one foreachBatch contract shared by every
maintainer in this package:

- each epoch writes its own directory (``{prefix}{epoch_id}``);
- a ``_COMMITTED`` marker, written AFTER the data, makes that directory
  visible — readers list only marked directories (``committed_ids``);
- a replayed epoch whose output is already marked is skipped, and a
  half-finished one (data, no marker) is overwritten by its retry —
  never appended twice;
- ``attach`` always sets a checkpointLocation, so epoch ids stay
  durable and monotone across restarts.

At 100 TB the same pattern targets a transactional table format; the
epoch-directory form shown here is the format-free equivalent and keeps
the exactly-once contract testable in this container.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_MARKER = "_COMMITTED"


def is_committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, _MARKER))


def mark_committed(path: str) -> None:
    """Commit ``path``: call only after its data files are written."""
    with open(os.path.join(path, _MARKER), "w") as fh:
        fh.write("ok\n")


def listed_ids(root: str, prefix: str, committed: bool = True) -> list[int]:
    """Sorted N of the ``{prefix}{N}`` directories under ``root``: only
    the committed ones, or (``committed=False``) every one, including
    the unmarked debris a crashed write leaves for compaction to sweep."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(n[len(prefix):])
        for n in os.listdir(root)
        if n.startswith(prefix)
        and n[len(prefix):].isdigit()
        and (not committed or is_committed(os.path.join(root, n)))
    )


def attach(
    stream_df: DataFrame,
    sink,
    name: str,
    checkpoint_dir: str | None = None,
):
    """Start ``stream_df`` in append mode with ``sink`` as its
    foreachBatch target; returns the streaming query.

    checkpointLocation is always set (default ``<sink.out_dir>/
    _checkpoint``): the marker contract needs durable, monotone epoch
    ids. A checkpoint-less restart re-lists the source with epoch ids
    reset to 0, landing NEW files on epoch ids whose markers already
    exist from the prior run — the sink would skip them as replays:
    silent data loss, not replay safety (pinned by the restart tests)."""
    return (
        stream_df.writeStream.outputMode("append")
        .queryName(name)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(sink.out_dir, "_checkpoint"),
        )
        .foreachBatch(sink)
        .start()
    )


class EpochSink:
    """Idempotent per-epoch writer for writeStream.foreachBatch.

    Layout: ``{out_dir}/epoch={epoch_id}/`` in ``fmt`` (NDJSON by
    default), plus the commit marker. With ``partition_cols`` the epoch
    is the OUTER partition level — ``{out}/epoch={id}/{col}={val}/`` —
    which keeps the per-epoch overwrite idempotent (a replayed epoch
    rewrites only its own directory) while the inner levels give
    readers partition pruning: ``spark.read.parquet(out)`` discovers
    both levels, and a filter on the partition column prunes
    directories before any file is opened. A plain
    ``partitionBy(col).mode("append")`` inside foreachBatch would
    double rows on epoch replay — at-least-once, the reference's
    semantics (app.py:203-211); the epoch level is what upgrades it."""

    def __init__(
        self,
        out_dir: str,
        fmt: str = "json",
        partition_cols: list[str] | None = None,
    ) -> None:
        self.out_dir = out_dir
        self.fmt = fmt
        self.partition_cols = partition_cols or []

    def committed_epochs(self) -> list[int]:
        return listed_ids(self.out_dir, "epoch=")

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        target = os.path.join(self.out_dir, f"epoch={epoch_id}")
        if is_committed(target):
            return  # replayed epoch: already durable, skip
        batch_df.write.mode("overwrite").partitionBy(
            *self.partition_cols
        ).format(self.fmt).save(target)
        mark_committed(target)
