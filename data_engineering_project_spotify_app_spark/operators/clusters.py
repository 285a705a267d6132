"""Duplicate-cluster construction: connected components over candidate
pairs, plus the keep-best-per-cluster dedup policy.

Pairwise dedup (q_minhash_lsh, q_dedup_ngram_jaccard) is not enough for
corpus dedup: near-duplication is transitive in practice (A≈B, B≈C ⇒
drop two of {A,B,C}), so the unit of deduplication is the *cluster* —
the connected component of the candidate-pair graph. The reference's
only dedup is ``set()`` on ids (app.py:164); clusters are the
100 TB-corpus generalization the north star asks for.

Spark-first design with a measured driver shortcut: connected
components is an iterative algorithm, so it cannot be one Catalyst plan.
``connected_components`` first measures the edge list. When it fits
Spark's own broadcast budget (the size under which the planner would
collect a join side to the driver anyway), the components are solved on
the driver with numpy. Otherwise a driver-side loop of DataFrame jobs
runs (each iteration fully distributed; the driver only checks an
aggregate for convergence). Both paths run the same iteration:
min-label propagation accelerated with pointer doubling — each round a
node adopts the minimum label among itself, its graph neighbors, AND the
node its current label points to — so label chains halve every round
and convergence is O(log n) rounds rather than O(diameter) (the same
shortcutting idea as the large-star/small-star MapReduce CC algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond"). Each
distributed round is one shuffle (groupBy node); labels are
localCheckpoint'ed per round to keep the lineage flat.

Both operators remain *exactly* oracle-checkable — the DuckDB twin
computes the same components with a recursive CTE (transitive-closure
min propagation), which terminates because UNION deduplicates.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.operators.dedup import (
    MINHASH_CTES,
    MINHASH_PAIRS_SQL,
    minhash_candidate_pairs,
)
from data_engineering_project_spotify_app_spark.operators.registry import query
from data_engineering_project_spotify_app_spark.tables import table

MAX_CC_ROUNDS = 30  # 2^30 ≫ any real component: a convergence-bug guard
EDGE_BYTES = 16  # two 8-byte node ids per collected edge


def _driver_edge_cap(spark: SparkSession) -> int:
    """Most edges the driver may collect: Spark's broadcast budget
    ``min(autoBroadcastJoinThreshold, spark.driver.maxResultSize)`` at
    EDGE_BYTES per edge (maxResultSize 0 = unlimited). -1 when
    broadcasting is disabled (threshold -1)."""
    conf = spark._jsparkSession.sessionState().conf()
    threshold = conf.autoBroadcastJoinThreshold()
    if threshold < 0:
        return -1
    max_result = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g"
    )
    if max_result > 0:
        threshold = min(threshold, max_result)
    return threshold // EDGE_BYTES


def _driver_labels(edges: DataFrame, max_rounds: int) -> DataFrame | None:
    """(node, lbl) for every edge-touched node, solved in numpy on the
    driver — or None when the non-null edges exceed _driver_edge_cap
    (fetched: at most cap + 1 of them) or broadcasting is disabled.

    Same iteration as the distributed loop: labels start at min(self,
    neighbors), then each round takes the min over neighbors' labels
    and follows the label pointer (``lbl[lbl]``) until nothing changes.
    Node ids are densified with np.unique (sorted), so min over dense
    ids is min over the original ids."""
    spark = edges.sparkSession
    cap = _driver_edge_cap(spark)
    if cap < 0:
        return None
    fetched = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .limit(cap + 1)
        .toArrow()
    )
    if fetched.num_rows > cap:
        return None
    src = fetched.column("src").to_numpy()
    ids, dense = np.unique(
        np.concatenate([src, fetched.column("dst").to_numpy()]),
        return_inverse=True,
    )
    a, b = dense[: len(src)], dense[len(src) :]
    lbl = np.arange(len(ids))
    np.minimum.at(lbl, a, b)
    np.minimum.at(lbl, b, a)
    for _ in range(max_rounds):
        prev = lbl.copy()
        np.minimum.at(lbl, a, lbl[b])
        np.minimum.at(lbl, b, lbl[a])
        lbl = lbl[lbl]
        if np.array_equal(lbl, prev):
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    id_type = fetched.schema.field("src").type
    return spark.createDataFrame(
        pa.table(
            {
                "node": pa.array(ids, type=id_type),
                "lbl": pa.array(ids[lbl], type=id_type),
            }
        )
    )


def _with_isolated(nodes: DataFrame, labels: DataFrame) -> DataFrame:
    # isolated nodes label themselves; the label table is small
    # (edge-touched nodes only), so this resolves as a broadcast join
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("lbl", "node").alias("lbl")
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = MAX_CC_ROUNDS
) -> DataFrame:
    """Min-label connected components: (node) × (src, dst) → (node, lbl).

    ``nodes`` has one ``node`` column; ``edges`` is undirected input as
    (src, dst) in either orientation; an edge with a null endpoint
    connects nothing. Returns one row per node with ``lbl`` = min node
    id of its component.

    The edges are pinned once (localCheckpoint) — the driver path's
    fetch and every loop round read them. When the non-null edges fit
    Spark's broadcast budget, _driver_labels solves the graph in numpy
    from one fetch; otherwise the distributed loop below runs.

    Per round, every node takes the min label over {self} ∪ neighbors ∪
    {current label's node} — the last term is pointer doubling: label
    indirections collapse by half each round, so rounds = O(log n) even
    for a path graph. Convergence is detected with sum(lbl): labels only
    ever decrease, so any change strictly decreases the sum — one cheap
    aggregate per round instead of an old-vs-new anti-join.

    The loop runs ONLY on edge-touched nodes: isolated nodes can never
    change labels, so they are attached afterwards with one
    coalesce-left-join. This is the decisive 100 TB property — the
    iteration's working set scales with the number of *duplicate-pair
    participants* (dup-rate × corpus), not corpus size; a billion-doc
    corpus with 2% near-dups loops over ~20M nodes, not 10^9.

    Labels start at min({self} ∪ neighbors) — the first propagation
    round is folded into initialization (one aggregate over the edge
    list, no join), which for the star/clique components LSH typically
    yields converges immediately.

    Per round, graph edges and the current pointer graph (node→lbl) are
    unioned and joined against labels ONCE — neighbor propagation and
    pointer doubling in a single shuffle join rather than two.

    Scale: each round shuffles (node, candidate_lbl) once on node and
    re-reads the pinned edge table. localCheckpoint truncates lineage
    so round N's plan does not replay rounds 1..N-1; on executor loss
    the job restarts the round, not the whole loop.
    """
    edges = edges.localCheckpoint(eager=False)
    small = _driver_labels(edges, max_rounds)
    if small is not None:
        return _with_isolated(nodes, small)
    both = edges.select(
        F.col("src").alias("n"), F.col("dst").alias("m")
    ).unionByName(edges.select(F.col("dst").alias("n"), F.col("src").alias("m")))
    # init: lbl(n) = min(n, min neighbor) — round 1 for free, and only
    # edge-touched nodes enter the loop
    labels = (
        both.groupBy("n")
        .agg(F.least(F.min("m"), F.first("n")).alias("lbl"))
        .select(F.col("n").alias("node"), "lbl")
    )
    # localCheckpoint(eager=False) does not defer all work: with AQE on
    # the call itself runs the grouped frame's shuffle-map job (the
    # adaptive plan materializes its shuffle stages as soon as the
    # checkpoint asks for the RDD) and the sum collect right after runs
    # 2 more. Measured jobs: init 3, each round 5 (a 10-node star, init
    # + 1 round: 8; a 16-node path, init + 5 rounds: 28). With AQE off
    # the call runs none and each collect one (star 2, path 6).
    labels = labels.localCheckpoint(eager=False)
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]

    converged = False
    for _ in range(max_rounds):
        # candidate labels flowing INTO each node n this round, via ONE
        # join: graph edges carry neighbors' labels, pointer edges
        # (n → lbl(n)) carry lbl(lbl(n)) — the doubling step
        ptr_edges = labels.filter(F.col("node") != F.col("lbl")).select(
            F.col("node").alias("n"), F.col("lbl").alias("m")
        )
        incoming = (
            both.unionByName(ptr_edges)
            .join(labels.withColumnRenamed("node", "m"), "m")
            .select("n", "lbl")
        )
        new_labels = (
            labels.select(F.col("node").alias("n"), "lbl")
            .unionByName(incoming)
            .groupBy("n")
            .agg(F.min("lbl").alias("lbl"))
            .select(F.col("n").alias("node"), "lbl")
        )
        new_labels = new_labels.localCheckpoint(eager=False)
        new_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    return _with_isolated(nodes, labels)


# Oracle: same components via a recursive CTE — walk(node, lbl) holds
# every label reachable from node; min per node = component id. UNION
# (not UNION ALL) deduplicates, so the recursion reaches a fixpoint.
_CLUSTERS_CTES = f"""{MINHASH_CTES},
    cand AS (
      {MINHASH_PAIRS_SQL}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, w.lbl
      FROM edges e JOIN walk w ON w.node = e.dst
    ),
    cc AS (
      SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node
    )"""

_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_CLUSTERS_CTES}
    SELECT doc_id, cluster_id FROM cc
    """


@query("q_dedup_clusters", oracle=_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components of the MinHash-LSH
    candidate graph → (doc_id, cluster_id = min doc_id in component).

    Every document appears (singletons label themselves), so downstream
    keep/drop policies are a join away.
    """
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    pairs = minhash_candidate_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = connected_components(docs, pairs)
    return cc.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


_CLUSTER_SIZE_HIST_ORACLE = f"""
    WITH RECURSIVE {_CLUSTERS_CTES},
    sizes AS (
      SELECT cluster_id, count(*) AS n FROM cc GROUP BY 1
    )
    SELECT CAST(n AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1
    """


@query("q_cluster_size_histogram", oracle=_CLUSTER_SIZE_HIST_ORACLE)
def q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution: how many connected
    components of each size (and the docs they hold) — the dedup QA
    chart that separates a healthy corpus (mass at size 1, thin tail)
    from a template-farm crawl (a few huge components). A fat tail here
    is also the capacity warning for any per-cluster pairwise stage.

    Two hash re-aggregations over the cluster labeling (|clusters| then
    |distinct sizes| rows) — strictly shrinking shuffles on top of the
    registered CC operator.
    """
    cc = q_dedup_clusters(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("n"))
    return sizes.groupBy(F.col("n").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("n").alias("n_docs"),
    )


_KEEP_BEST_ORACLE = f"""
    WITH RECURSIVE {_CLUSTERS_CTES},
    ranked AS (
      SELECT cc.cluster_id,
             d.doc_id,
             row_number() OVER (
               PARTITION BY cc.cluster_id
               ORDER BY length(d.text) DESC, d.doc_id
             ) AS rn,
             count(*) OVER (PARTITION BY cc.cluster_id) AS n_members
      FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    )
    SELECT cluster_id, doc_id AS keep_id,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """


def keep_best_from_cc(cc: DataFrame, docs: DataFrame) -> DataFrame:
    """(cluster_id, keep_id, n_members) from a (doc_id, cluster_id)
    labeling and a (doc_id, len) projection — keep the longest text per
    cluster, ties broken by min doc_id.

    One hash aggregate (min_by over the (-len, doc_id) order struct +
    count) instead of a rank window: same exchange on cluster_id, but
    partial map-side aggregation replaces the window's per-partition
    sort, and the funnels can pass an ALREADY-RUN cc frame so the CC
    loop (a driver-side iteration — separate Spark jobs every call)
    executes once per query instead of once per consumer (guide §2.4 /
    §1.2: remove whole repeated passes before tuning inside them).
    """
    joined = cc.join(docs, "doc_id")
    return joined.groupBy("cluster_id").agg(
        F.min_by(
            "doc_id", F.struct((-F.col("len")).alias("o1"), F.col("doc_id"))
        ).alias("keep_id"),
        F.count("*").alias("n_members"),
    )


@query("q_dedup_keep_best", oracle=_KEEP_BEST_ORACLE)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-cluster dedup policy: one surviving doc per
    duplicate cluster — the longest text, ties broken by min doc_id.

    Output: (cluster_id, keep_id, n_members). The deduplicated corpus is
    then ``documents semi-join keep_id`` — one broadcast-able join at any
    scale, since clusters (not documents) bound the keep list.
    """
    cc = q_dedup_clusters(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("len")
    )
    return keep_best_from_cc(cc, d)


_DEDUP_SPLIT_BAND = (
    "CAST(instr('0123456789abcdef', "
    "substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT)"
)

_DEDUP_SPLIT_ORACLE = f"""
    WITH RECURSIVE {_CLUSTERS_CTES}
    SELECT doc_id, cluster_id,
           CASE
             WHEN {_DEDUP_SPLIT_BAND} <= 11 THEN 'train'
             WHEN {_DEDUP_SPLIT_BAND} <= 13 THEN 'val'
             ELSE 'test'
           END AS split
    FROM cc
    """


@query("q_dedup_aware_split", oracle=_DEDUP_SPLIT_ORACLE)
def q_dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof train/val/test split: hash-band the duplicate
    CLUSTER id (q_dedup_clusters' connected components), not the doc id
    — every near-duplicate of a val/test document lands on the same
    side, closing the eval-contamination hole a per-doc split
    (q_dataset_split) leaves open when the corpus contains near-dups.
    Same 12/2/2 hash-band discipline: membership is a pure function of
    content-derived ids, stable under re-runs and incremental arrival.

    Scale: everything is the CC cost (frontier-bounded label
    propagation); the split itself is one codegen expression on the
    (doc_id, cluster_id) frame — no extra shuffle.
    """
    cc = q_dedup_clusters(spark, sf_dir)
    band = F.expr(
        "CAST(instr('0123456789abcdef', "
        "substring(md5(CAST(cluster_id AS STRING)), 1, 1)) - 1 AS BIGINT)"
    )
    split = (
        F.when(band <= 11, "train").when(band <= 13, "val").otherwise("test")
    )
    return cc.select("doc_id", "cluster_id", split.alias("split"))


_CLUSTER_STATS_ORACLE = f"""
    WITH RECURSIVE {_CLUSTERS_CTES},
    sizes AS (
      SELECT cluster_id, count(*) AS sz FROM cc GROUP BY 1
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           count(*) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs,
           round(CAST(sz * count(*) AS DOUBLE)
                 / (SELECT count(*) FROM cc), 4) AS frac_corpus
    FROM sizes
    GROUP BY sz
    """


@query("q_dedup_cluster_stats", oracle=_CLUSTER_STATS_ORACLE)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the corpus-health metric a
    dedup run is judged by: how many docs sit in singletons vs pairs vs
    heavy clusters, and what fraction of the corpus each size class
    holds (size 1 row = the unique mass; a fat tail here means the
    crawl is recycling content). One aggregation ladder on top of the
    CC output: sizes per cluster, then a histogram over sizes — both
    map-side-combined, output bounded by the largest cluster size.

    The corpus-total scalar is a driver-side count — cheap to consume
    twice because connected_components' label table is a driver-built
    local relation (or, on the distributed path, localCheckpoint'ed per
    round), so the second pass replays no CC work.
    """
    cc = q_dedup_clusters(spark, sf_dir)
    total = cc.count()
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("sz").cast("bigint").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
            F.round(
                (F.col("sz") * F.col("n_clusters")).cast("double")
                / F.lit(total),
                4,
            ).alias("frac_corpus"),
        )
    )


_SURVIVORS_ORACLE = f"""
    WITH RECURSIVE {_CLUSTERS_CTES},
    ranked AS (
      SELECT cc.cluster_id, d.doc_id,
             row_number() OVER (
               PARTITION BY cc.cluster_id
               ORDER BY length(d.text) DESC, d.doc_id
             ) AS rn
      FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    )
    SELECT d.doc_id, d.source, d.lang,
           CAST(length(d.text) AS BIGINT) AS n_chars_kept,
           md5(d.text) AS text_hash
    FROM documents d
    JOIN ranked r ON r.doc_id = d.doc_id AND r.rn = 1
    """


@query("q_dedup_survivors", oracle=_SURVIVORS_ORACLE)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself — the terminal step of the dedup
    ladder (candidates → clusters → keep-best → THIS): documents
    semi-joined to the per-cluster keep list, one surviving row per
    near-duplicate cluster. Emitted with an md5 of the text so the
    oracle value-checks the exact surviving CONTENT without hauling
    full text through the compare.

    Scale: the keep list is cluster-bounded (≤ one row per cluster) —
    broadcast-sized relative to the corpus at any dedup rate; the
    semi-join is the only corpus-sized operation beyond the CC run
    itself.
    """
    keep = q_dedup_keep_best(spark, sf_dir).select(
        F.col("keep_id").alias("doc_id")
    )
    d = table(spark, sf_dir, "documents")
    return d.join(keep, "doc_id", "left_semi").select(
        "doc_id",
        "source",
        "lang",
        F.length("text").cast("bigint").alias("n_chars_kept"),
        F.md5("text").alias("text_hash"),
    )


_SAVINGS_ORACLE = f"""
    WITH RECURSIVE {_CLUSTERS_CTES},
    ranked AS (
      SELECT cc.cluster_id, d.doc_id,
             row_number() OVER (
               PARTITION BY cc.cluster_id
               ORDER BY length(d.text) DESC, d.doc_id
             ) AS rn
      FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    ),
    keep AS (SELECT doc_id FROM ranked WHERE rn = 1)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS docs_before,
           CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_after,
           CAST(sum(d.n_chars) AS BIGINT) AS chars_before,
           CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN d.n_chars
                         ELSE 0 END) AS BIGINT) AS chars_after,
           round(1.0 - sum(CASE WHEN k.doc_id IS NOT NULL THEN d.n_chars
                                ELSE 0 END) * 1.0 / sum(d.n_chars), 6)
             AS char_savings
    FROM documents d LEFT JOIN keep k ON k.doc_id = d.doc_id
    GROUP BY 1
    """


@query("q_dedup_savings", oracle=_SAVINGS_ORACLE)
def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup BUSINESS CASE, per source: documents and characters
    before vs after near-duplicate removal (the q_dedup_survivors keep
    set) and the storage/compute fraction saved — the number that
    justifies running the dedup ladder at all, split by source because
    savings concentrate where the crawl recycles content.

    Scale: the keep list is cluster-bounded and broadcast-sized; one
    left-semi-flagged pass over documents and a |sources|-row
    aggregate.
    """
    keep = q_dedup_keep_best(spark, sf_dir).select(
        F.col("keep_id").alias("doc_id"), F.lit(1).alias("kept")
    )
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    flagged = d.join(F.broadcast(keep), "doc_id", "left")
    kept_chars = F.sum(
        F.when(F.col("kept").isNotNull(), F.col("n_chars")).otherwise(0)
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("docs_before"),
        F.sum(
            F.when(F.col("kept").isNotNull(), 1).otherwise(0)
        ).alias("docs_after"),
        F.sum("n_chars").alias("chars_before"),
        kept_chars.alias("chars_after"),
        F.round(
            F.lit(1.0) - kept_chars / F.sum("n_chars"), 6
        ).alias("char_savings"),
    )
