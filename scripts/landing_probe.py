#!/usr/bin/env python
"""Landing-maintainer scale probe: does per-epoch ingest cost stay FLAT
as the maintained landing grows, and how does the publish (bucketed
table write) compare to the full batch rebuild it replaces?

Feeds N equal-size micro-batches (disjoint key-offset copies of the sf
documents fixture) through StreamingDocLandingSink with the minhash
signature transform and records each epoch's wall time. Per-epoch cost
is O(|delta| + guard probe); a rebuild-per-ingest design would cost
O(corpus)/epoch, i.e. epoch N would take ~N× epoch 1. Then lands the
maintained state as the bucketed table (publish minus the seed step)
and times it against the equivalent batch rebuild from raw documents.

Usage: python scripts/landing_probe.py [n_epochs] [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from data_engineering_project_spotify_app_spark.operators.dedup import (  # noqa: E402
    minhash_signatures_df,
)
from data_engineering_project_spotify_app_spark.session import (  # noqa: E402
    get_spark,
)
from data_engineering_project_spotify_app_spark.sources.bucketed import (  # noqa: E402
    corpus_buckets,
    drop_landed,
    land_bucketed,
)
from data_engineering_project_spotify_app_spark.streaming.landing_stream import (  # noqa: E402
    StreamingDocLandingSink,
)
from data_engineering_project_spotify_app_spark.tables import (  # noqa: E402
    table_parallel,
)


def _transform(batch):
    return minhash_signatures_df(batch.select("doc_id", "text"))


def main() -> None:
    n_epochs = max(5, int(sys.argv[1]) if len(sys.argv) > 1 else 8)
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="landing_probe")
    n_buckets = corpus_buckets(spark, sf_dir)
    docs = table_parallel(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    with tempfile.TemporaryDirectory() as d:  # warm epoch, throwaway
        StreamingDocLandingSink(spark, d, _transform)(docs, 0)
    off = 10_000_000
    with tempfile.TemporaryDirectory() as d:
        sink = StreamingDocLandingSink(spark, d, _transform)
        times = []
        for e in range(n_epochs):
            batch = docs.withColumn(
                "doc_id", F.col("doc_id") + F.lit(off * e)
            )
            t0 = time.perf_counter()
            sink(batch, e)
            times.append(round(time.perf_counter() - t0, 2))
        rows = sink.current_landing().count()
        t0 = time.perf_counter()
        land_bucketed(
            sink.current_landing(), "probe_pub", "doc_id", n_buckets
        )
        publish_s = time.perf_counter() - t0
        drop_landed(spark, "probe_pub")
    # the batch rebuild a daily-ingest user would otherwise re-pay,
    # at the same final corpus size (n_epochs disjoint copies)
    big = docs
    for e in range(1, n_epochs):
        big = big.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(off * e))
        )
    t0 = time.perf_counter()
    land_bucketed(_transform(big), "probe_batch", "doc_id", n_buckets)
    batch_s = time.perf_counter() - t0
    drop_landed(spark, "probe_batch")
    print(f"epochs: {times}")
    head = sum(times[1:3]) / 2
    tail = sum(times[-2:]) / 2
    print(
        f"landing rows at end: {rows}\n"
        f"head avg (e1-2) {head:.2f}s  tail avg {tail:.2f}s  "
        f"tail/head {tail / head:.2f} (flat ≈ 1; rebuild-per-ingest "
        f"would be ≈ {n_epochs})\n"
        f"publish (bucketed write of maintained state) {publish_s:.2f}s"
        f"  vs batch rebuild at same size {batch_s:.2f}s"
    )
    spark.stop()


if __name__ == "__main__":
    main()
