#!/usr/bin/env python
"""Scale-law probe: do the heavy operators scale LINEARLY in corpus size?

Blows the sf0.1 fixtures up M× by unioning key-offset copies (8 disjoint
shards — the same growth shape as adding corpus shards at 100 TB) and
compares wall time against the 1× run. Each probe is timed as a
``noop``-format write of its output, like scale_probe_queries.py. A
bucketed/capped operator should scale ~linearly (ratio ≈ M on a
saturated box, < M while cores are still idle at 1×); a quadratic
candidate-explosion or a serialized stage shows up as ratio >> M. This
is an internal posture probe — the driver-checked correctness fixtures
stay the only correctness inputs.

Usage: python scripts/scale_probe.py [M] [sf_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from data_engineering_project_spotify_app_spark.operators import (  # noqa: E402
    registry,
)
from data_engineering_project_spotify_app_spark.operators.dedup import (  # noqa: E402
    incremental_candidate_pairs_df,
    minhash_candidate_pairs_df,
    minhash_signatures_df,
    ngram_jaccard_pairs,
    simhash_hamming_pairs_df,
    weighted_jaccard_pairs,
    winnowing_pairs_df,
    winnowing_word_pairs_df,
)
from data_engineering_project_spotify_app_spark.operators.linedup import (  # noqa: E402
    LCS_GRAM,
    MIN_LCS_TOKENS,
    dedup_lines,
    intra_doc_dedup,
    remove_overlaps_df,
)
from data_engineering_project_spotify_app_spark.operators.graphs import (  # noqa: E402
    _oriented_adjacency,
    _triangle_counts_from_oadj,
    triangle_counts,
)
from data_engineering_project_spotify_app_spark.operators.similarity import (  # noqa: E402
    srp_buckets_df,
)
from data_engineering_project_spotify_app_spark.sources.bucketed import (  # noqa: E402
    drop_landed,
    land_bucketed,
)
from data_engineering_project_spotify_app_spark.session import (  # noqa: E402
    get_spark,
)
from data_engineering_project_spotify_app_spark.tables import (  # noqa: E402
    table,
    table_parallel,
)

registry.load_all_modules()


def blow_up_docs(docs, m: int):
    """m disjoint shard copies; doc_ids offset so every copy is distinct
    content-wise for the bucketing keys that include doc_id, while the
    text duplication factor grows like a real multi-shard crawl's."""
    off = 10_000_000
    out = docs
    for i in range(1, m):
        out = out.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + off * i)
        )
    return out


def blow_up_edges(li, m: int):
    off = 10_000_000
    parts = [
        li.select(
            (F.col("l_orderkey") + off * i).alias("l_orderkey"),
            (F.col("l_partkey") + off * i).alias("l_partkey"),
        )
        for i in range(m)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def blow_up_embeddings(em, m: int):
    """m disjoint shard copies of (vec_id, v) with offset ids — the
    embedding twin of blow_up_docs."""
    off = 10_000_000
    out = em
    for i in range(1, m):
        out = out.unionByName(
            em.withColumn("vec_id", F.col("vec_id") + off * i)
        )
    return out


def _balance_shape(buckets, src):
    """q_cluster_source_balance's aggregate tail over arbitrary
    (vec_id, bucket) + (vec_id, source) frames: ONE corpus-sized
    (bucket, source) aggregate, marginal-sized joins back — no pair
    stage anywhere, so M disjoint shard copies must scale ~linearly."""
    per = (
        buckets.join(src, "vec_id")
        .groupBy("bucket", "source")
        .agg(F.count("*").alias("n_docs"))
        .localCheckpoint(eager=False)
    )
    bt = per.groupBy("bucket").agg(F.sum("n_docs").alias("bn"))
    st = per.groupBy("source").agg(F.sum("n_docs").alias("sn"))
    tt = per.agg(F.sum("n_docs").alias("tn"))
    share = F.col("n_docs") / F.col("bn")
    return (
        per.join(bt, "bucket")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tt))
        .select(
            "bucket",
            "source",
            "n_docs",
            F.round(share, 4).alias("share"),
            F.round(share / (F.col("sn") / F.col("tn")), 4).alias("lift"),
        )
    )


def pairs_from_lineitem(li):
    grp = li.groupBy("l_orderkey").agg(
        F.array_distinct(F.collect_list("l_partkey")).alias("ps")
    )
    return (
        grp.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> "
                    "transform(filter(ps, y -> y > x), "
                    "y -> struct(x AS src, y AS dst))))"
                )
            ).alias("pr")
        )
        .select("pr.src", "pr.dst")
    )


def _clustering_shape(li):
    pairs = pairs_from_lineitem(li)
    tri = _triangle_counts_from_oadj(_oriented_adjacency(pairs)).agg(
        (F.sum("n_triangles") / 3).alias("n_tri")
    )
    both = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = both.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2.0).alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(wedges))


def _land_edges(spark, li, name):
    land_bucketed(
        pairs_from_lineitem(li), name, "src", 16, sort_cols=["src", "dst"]
    )
    drop_landed(spark, name)


def _run(df) -> None:
    # a noop write materializes every output column; count() would let
    # column pruning skip the work the probe means to time
    df.write.format("noop").mode("overwrite").save()


def best_of(n, fn):
    best = 1e18
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    m = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="scale_probe")

    docs1 = table_parallel(spark, sf_dir, "documents")
    docsM = blow_up_docs(docs1, m)
    li1 = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    liM = blow_up_edges(li1, m)

    probes = [
        (
            "ngram_jaccard (capped)",
            lambda d=docs1: _run(ngram_jaccard_pairs(d, df_cap="auto")),
            lambda d=docsM: _run(ngram_jaccard_pairs(d, df_cap="auto")),
        ),
        (
            "simhash_hamming (capped)",
            lambda d=docs1: _run(simhash_hamming_pairs_df(
                d, cap_df=d.agg(F.lit(64).alias("bucket_cap"))
            )),
            lambda d=docsM: _run(simhash_hamming_pairs_df(
                d, cap_df=d.agg(F.lit(64).alias("bucket_cap"))
            )),
        ),
        (
            "minhash_lsh (capped)",
            lambda d=docs1: _run(minhash_candidate_pairs_df(
                minhash_signatures_df(d), bucket_cap="auto", cap_df=d
            )),
            lambda d=docsM: _run(minhash_candidate_pairs_df(
                minhash_signatures_df(d), bucket_cap="auto", cap_df=d
            )),
        ),
        (
            "dedup_lines (k=4)",
            lambda d=docs1: _run(dedup_lines(d, 4)),
            lambda d=docsM: _run(dedup_lines(d, 4)),
        ),
        (
            "triangle_counts",
            lambda l=li1: _run(triangle_counts(
                pairs_from_lineitem(l).select(
                    F.col("src"), F.col("dst")
                ).unionByName(
                    pairs_from_lineitem(l).select(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    )
                )
            )),
            lambda l=liM: _run(triangle_counts(
                pairs_from_lineitem(l).select(
                    F.col("src"), F.col("dst")
                ).unionByName(
                    pairs_from_lineitem(l).select(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    )
                )
            )),
        ),
        (
            # the landed-adjacency path the triangle family actually
            # runs (graphs.landed_oriented_adjacency → counting stage):
            # degree ranking + orientation + collect_set, then the
            # explode/intersect edge-iterator. Disjoint shards leave
            # per-node degrees unchanged, so |N⁺| stays O(√|E_shard|)
            # and the chain must scale ~linearly in shards.
            "triangle via oriented adj",
            lambda l=li1: _run(_triangle_counts_from_oadj(
                _oriented_adjacency(pairs_from_lineitem(l))
            )),
            lambda l=liM: _run(_triangle_counts_from_oadj(
                _oriented_adjacency(pairs_from_lineitem(l))
            )),
        ),
        (
            # clustering-coefficient shape = triangle chain + the
            # one-aggregate wedge count over degrees
            "clustering coeff (landed shape)",
            lambda l=li1: _run(_clustering_shape(l)),
            lambda l=liM: _run(_clustering_shape(l)),
        ),
        (
            # the landing WRITE itself (pay-the-shuffle-once bucketed
            # table build the consumers amortize)
            "edge landing write (bucketed)",
            lambda l=li1, s=spark: _land_edges(s, l, "probe_edges_1x"),
            lambda l=liM, s=spark: _land_edges(s, l, "probe_edges_mx"),
        ),
        (
            "weighted_jaccard (capped)",
            lambda d=docs1: _run(weighted_jaccard_pairs(d, df_cap="auto")),
            lambda d=docsM: _run(weighted_jaccard_pairs(d, df_cap="auto")),
        ),
        (
            "incremental_dedup (delta)",
            lambda d=docs1: _run(incremental_candidate_pairs_df(
                minhash_signatures_df(d)
            )),
            lambda d=docsM: _run(incremental_candidate_pairs_df(
                minhash_signatures_df(d)
            )),
        ),
        (
            # doc-sharded by construction: every stage keys on doc_id,
            # so disjoint shard copies must scale ~linearly
            "intra_doc_dedup",
            lambda d=docs1: _run(intra_doc_dedup(d)),
            lambda d=docsM: _run(intra_doc_dedup(d)),
        ),
        (
            # the diagonal-islands pair stage is corpus-global
            # (capped gram buckets) — same law as ngram_jaccard
            "remove_overlaps (floor 8)",
            lambda d=docs1: _run(remove_overlaps_df(d, MIN_LCS_TOKENS)),
            lambda d=docsM: _run(remove_overlaps_df(d, MIN_LCS_TOKENS)),
        ),
        (
            "remove_overlaps_short (4)",
            lambda d=docs1: _run(remove_overlaps_df(d, LCS_GRAM)),
            lambda d=docsM: _run(remove_overlaps_df(d, LCS_GRAM)),
        ),
        (
            # winnowing's heavy stage is the fingerprint self-join;
            # M disjoint text copies multiply every fingerprint's df,
            # so the stop-fingerprint cap culls MORE at Mx — the join
            # stays bounded by cap^2 per fingerprint no matter the
            # growth (sub-linear here is the cap doing its job, the
            # HOF gram/min pipeline upstream is per-doc linear)
            "winnowing pairs (capped)",
            lambda d=docs1: _run(winnowing_pairs_df(d)),
            lambda d=docsM: _run(winnowing_pairs_df(d)),
        ),
        (
            # word-gram granularity: same cap law as the char form
            "winnowing word pairs",
            lambda d=docs1: _run(winnowing_word_pairs_df(d)),
            lambda d=docsM: _run(winnowing_word_pairs_df(d)),
        ),
        (
            # SRP-GEMM buckets + one (bucket, source) aggregate — the
            # only probe with NO pair/join-explosion stage at all; the
            # law here is plain linear scan+agg
            "cluster source balance",
            lambda: _run(_balance_shape(
                srp_buckets_df(
                    table_parallel(spark, sf_dir, "embeddings").select(
                        "vec_id",
                        F.transform(
                            "embedding", lambda x: x.cast("double")
                        ).alias("v"),
                    )
                ),
                docs1.select(F.col("doc_id").alias("vec_id"), "source"),
            )),
            lambda: _run(_balance_shape(
                srp_buckets_df(
                    blow_up_embeddings(
                        table_parallel(
                            spark, sf_dir, "embeddings"
                        ).select(
                            "vec_id",
                            F.transform(
                                "embedding", lambda x: x.cast("double")
                            ).alias("v"),
                        ),
                        m,
                    )
                ),
                docsM.select(F.col("doc_id").alias("vec_id"), "source"),
            )),
        ),
    ]
    only = sys.argv[3] if len(sys.argv) > 3 else None
    if only:
        probes = [p for p in probes if only in p[0]]
    print(f"M = {m}  (linear scaling => ratio <= {m})")
    for name, one, big in probes:
        one()  # warm
        t1 = best_of(2, one)
        tm = best_of(2, big)
        print(
            f"{name:28s} 1x {t1:6.2f}s   {m}x {tm:6.2f}s   "
            f"ratio {tm / max(t1, 1e-9):5.1f}"
        )


if __name__ == "__main__":
    main()
