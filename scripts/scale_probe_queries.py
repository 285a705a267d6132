#!/usr/bin/env python
"""Registered-query scale probe (VERDICT r12 item 2): do the top
headline cost centers scale ~linearly in DISJOINT corpus shards?

Unlike scripts/scale_probe.py — which blows up frames by unioning
key-offset copies of the SAME content (the right adversary for capped
operators: caps must cull the M× duplication) — this probe models the
other 100 TB growth axis: M disjoint crawl shards of NEW content, the
shape a 1000-executor cluster actually ingests. Same-content copies
would make every EXACT similarity join's true output grow
quadratically (every pair of copies qualifies), which measures the
output size, not the algorithm. Disjoint shards are built per table:

- documents: every token prefixed with a shard tag (s<i>x…), so each
  shard has 1x's internal overlap structure but ZERO cross-shard
  shingle overlap — per-shard bigram vocabulary and df distribution
  identical to 1x, M× buckets, M× true pairs;
- embeddings: the float vector ROTATED by i positions per shard (norm
  and coordinate distribution preserved, SRP/IVF bucket assignments
  decorrelated), vec_ids offset so the N_QUERIES probe set stays the
  1x one while the corpus grows M×;
- lineitem: l_orderkey/l_partkey offset per shard — M× parts, M× rows,
  per-part revenue distribution unchanged.

The probed queries are the REGISTERED entries, run end-to-end at a 1x
sf_dir vs the materialized Mx dir (landings built in the warm pass,
so the timed pass excludes their one-time cost). Each run is a
``noop``-sink write, the action perfbench times: a ``count()`` would let
column pruning skip every column it does not need. Linear scaling ⇒
ratio ≈ M on a saturated box, < M while 1x leaves cores idle; a
super-linear stage shows up as ratio >> M.

Usage: python scripts/scale_probe_queries.py [M] [sf_dir] [only-substr]
"""

from __future__ import annotations

import gc
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from data_engineering_project_spotify_app_spark.operators import (  # noqa: E402
    registry,
)
from data_engineering_project_spotify_app_spark.operators.similarity import (  # noqa: E402
    DIM,
)
from data_engineering_project_spotify_app_spark.session import (  # noqa: E402
    get_spark,
)
from data_engineering_project_spotify_app_spark.tables import table  # noqa: E402

registry.load_all_modules()

OFF = 10_000_000

PROBED = [
    "q_curation_funnel",
    "q_ann_recall_report",
    "q_abc_classification",
    "q_jaccard_prefix_join",
]


def _shards(df, m: int, shard_fn):
    out = shard_fn(df, 0)
    for i in range(1, m):
        out = out.unionByName(shard_fn(df, i))
    return out


def _doc_shard(df, i: int):
    # shard tag on every token: bigram/shingle vocabularies are
    # per-shard disjoint while each shard's internal df structure is
    # exactly 1x's. Shard 0 keeps the original text so the 1x corpus is
    # a literal subset... of the STRUCTURE, not the bytes — tag shard 0
    # too, so all shards are symmetric and none is accidentally cheaper.
    tagged = F.regexp_replace("text", r"(\S+)", f"s{i}x$1")
    return df.withColumn("doc_id", F.col("doc_id") + OFF * i).withColumn(
        "text", tagged
    ).withColumn("n_chars", F.length("text"))


def _emb_shard(df, i: int):
    if i == 0:
        # shard 0 keeps the ORIGINAL vectors and vec_ids: the probe
        # queries (vec_id < N_QUERIES) must exist with 1x's content
        return df
    # Rotate by i % DIM positions (DIM imported from the operators
    # module, not hardcoded — ADVICE r13) and flip signs on odd shards:
    # a shard index that is a multiple of DIM would make the rotation
    # the identity and silently duplicate shard 0's vectors, breaking
    # the disjoint-shard premise the probe ratios depend on. The sign
    # flip keeps shards distinct even then; the assert documents the
    # envelope the pure rotation already covers.
    assert i % DIM != 0 or i % 2 == 1, (
        f"shard {i}: identity rotation with no sign flip would "
        f"duplicate shard 0 (DIM={DIM})"
    )
    k = i % DIM
    rotated = F.concat(
        F.slice("embedding", k + 1, 10_000),
        F.slice("embedding", 1, k),
    )
    if i % 2 == 1:
        rotated = F.transform(rotated, lambda x: -x)
    return df.withColumn("vec_id", F.col("vec_id") + OFF * i).withColumn(
        "embedding", rotated.cast("array<float>")
    )


def _li_shard(df, i: int):
    return df.withColumn(
        "l_orderkey", F.col("l_orderkey") + OFF * i
    ).withColumn("l_partkey", F.col("l_partkey") + OFF * i)


def materialize_mx(spark, sf_dir: str, m: int) -> str:
    out = f"/tmp/graft_scale_mx{m}"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, fn in [
        ("documents", _doc_shard),
        ("embeddings", _emb_shard),
        ("lineitem", _li_shard),
    ]:
        _shards(table(spark, sf_dir, name), m, fn).write.mode(
            "overwrite"
        ).parquet(f"{out}/{name}.parquet")
    return out


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def best_of(n, fn, spark) -> float:
    best = 1e18
    for _ in range(n):
        gc.collect()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    m = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = sys.argv[3] if len(sys.argv) > 3 else None
    spark = get_spark(app_name="scale_probe_queries")
    t0 = time.perf_counter()
    mx = materialize_mx(spark, sf_dir, m)
    print(f"materialized {mx} in {time.perf_counter() - t0:.1f}s")
    print(f"M = {m} disjoint shards  (linear scaling => ratio <= {m})")
    for name in PROBED:
        if only and only not in name:
            continue
        fn = registry.QUERIES[name]
        _run(fn(spark, sf_dir))  # warm: landings + codegen
        t1 = best_of(2, lambda f=fn: _run(f(spark, sf_dir)), spark)
        _run(fn(spark, mx))  # warm Mx: build the Mx landings
        tm = best_of(2, lambda f=fn: _run(f(spark, mx)), spark)
        print(
            f"{name:24s} 1x {t1:6.2f}s   {m}x {tm:6.2f}s   "
            f"ratio {tm / max(t1, 1e-9):5.1f}"
        )


if __name__ == "__main__":
    main()
