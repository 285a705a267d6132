"""Unit tests for the connected-components primitive (clusters.py).

The oracle-parity suite exercises q_dedup_clusters end-to-end, but the
LSH fixture graphs are stars/cliques that converge in one round — these
tests force the shapes the loop exists for: long paths (multi-round
pointer doubling) and edge-free graphs (the subgraph restriction's
boundary case). Every graph is solved twice, once on the driver path
(edges under the broadcast budget) and once by the distributed loop
(broadcasting disabled), and the two labelings must be identical.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.operators.clusters import (
    connected_components,
    q_dedup_clusters,
)

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _labels(spark, nodes, edges):
    n = spark.createDataFrame([(x,) for x in nodes], "node bigint")
    e = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(None, None)], "src bigint, dst bigint"
    )
    if not edges:
        e = e.filter(F.lit(False))
    out = connected_components(n, e)
    return {r["node"]: r["lbl"] for r in out.collect()}


def _cc(spark, nodes, edges):
    """Labels from the driver path, checked equal to the loop's."""
    driver = _labels(spark, nodes, edges)
    saved = spark.conf.get(_THRESHOLD)
    spark.conf.set(_THRESHOLD, "-1")
    try:
        loop = _labels(spark, nodes, edges)
    finally:
        spark.conf.set(_THRESHOLD, saved)
    assert driver == loop
    return driver


def test_path_graph_needs_doubling(spark):
    # 0-1-2-...-9 single path: naive propagation needs 9 rounds,
    # doubling needs ~log2(9) — either way every node must reach lbl 0
    got = _cc(spark, range(10), [(i, i + 1) for i in range(9)])
    assert got == {i: 0 for i in range(10)}


def test_two_components_and_singletons(spark):
    got = _cc(spark, range(7), [(1, 2), (2, 3), (5, 6)])
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_no_edges_all_selfloops(spark):
    got = _cc(spark, range(5), [])
    assert got == {i: i for i in range(5)}


def test_edge_orientation_irrelevant(spark):
    # edges given in mixed orientation; min label still propagates
    got = _cc(spark, range(4), [(3, 2), (1, 2), (0, 3)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}


def test_dedup_aware_split_keeps_clusters_together(spark, tmp_path):
    """Near-duplicate docs (same CC cluster) must always land on the
    same split side; the split column matches the cluster-id hash band."""
    from data_engineering_project_spotify_app_spark.operators import registry

    registry.load_all_modules()
    base = [" ".join(f"w{i}_{j}" for j in range(40)) for i in range(8)]
    rows = []
    for i, t in enumerate(base):
        rows.append((i, t, "en", "src0", len(t)))
        rows.append((100 + i, t + " extraword", "en", "src0", len(t)))
    df = spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    out = str(tmp_path / "docs")
    df.write.parquet(f"{out}/documents.parquet")
    res = {
        r["doc_id"]: r
        for r in registry.QUERIES["q_dedup_aware_split"](spark, out).collect()
    }
    assert len(res) == 16
    for i in range(8):
        a, b = res[i], res[100 + i]
        assert a["cluster_id"] == b["cluster_id"] == i
        assert a["split"] == b["split"]


def test_dedup_savings_reconciles_with_survivors(spark, sf_dir):
    from data_engineering_project_spotify_app_spark.operators.clusters import (
        q_dedup_savings,
        q_dedup_survivors,
    )
    from data_engineering_project_spotify_app_spark.tables import table

    rows = q_dedup_savings(spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    n_surv = q_dedup_survivors(spark, sf_dir).count()
    assert sum(r["docs_before"] for r in rows) == n_docs
    assert sum(r["docs_after"] for r in rows) == n_surv
    for r in rows:
        assert 0 <= r["docs_after"] <= r["docs_before"]
        assert 0 <= r["chars_after"] <= r["chars_before"]
        assert 0 <= r["char_savings"] <= 1


def _union_find_labels(nodes, edges):
    parent = {x: x for x in nodes}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is not None and b is not None:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in nodes}


def test_random_graphs_both_paths_agree(spark):
    """Seeded random graphs mixing every shape the LSH graph can take —
    paths, stars, cliques — with reversed and duplicate edges,
    self-loops, isolated nodes and a null endpoint."""
    rng = random.Random(20261019)
    for _ in range(3):
        ids = rng.sample(range(10_000), 120)
        nodes, edges, pos = ids[:110], [], 0
        for shape in ("path", "star", "clique", "path", "star", "clique"):
            size = rng.randint(3, 12)
            part = ids[pos : pos + size]
            pos += size
            if shape == "path":
                edges += list(zip(part, part[1:]))
            elif shape == "star":
                edges += [(part[0], x) for x in part[1:]]
            else:
                edges += [(a, b) for a in part for b in part if a < b]
        edges += [(b, a) for a, b in rng.sample(edges, 10)]  # reversed
        edges += rng.sample(edges, 10)  # duplicates
        edges += [(x, x) for x in rng.sample(nodes, 5)]  # self-loops
        edges += [(ids[109], None), (None, ids[108])]  # null endpoints
        edges.append((ids[0], ids[-3]))  # via a node outside ``nodes``
        rng.shuffle(edges)
        got = _cc(spark, nodes, edges)
        assert got == _union_find_labels(nodes, edges)


def test_dedup_clusters_construction_fires_at_most_three_jobs(spark, sf_dir):
    """A corpus-sized duplicate graph of a few hundred edges is solved on
    the driver: construction runs the edge fetch, not a Spark job loop."""
    q_dedup_clusters(spark, sf_dir)  # one-time landing build and schema reads
    sc = spark.sparkContext
    group = "test_dedup_clusters_construction_jobs"
    sc.setJobGroup(group, group)
    try:
        q_dedup_clusters(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
