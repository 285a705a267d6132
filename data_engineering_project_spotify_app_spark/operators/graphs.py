"""Iterative graph operators over a derived co-purchase graph.

The reference's data model has no explicit graph, but every large-scale
pipeline grows one (link graphs for dedup provenance, co-occurrence
graphs for curation); these operators derive a part co-purchase graph
from ``lineitem`` (two parts are adjacent iff some order contains both)
and run the two canonical iterative algorithms over it:

- ``q_bfs_hops`` — multi-source BFS (min hops from seed parts, bounded
  depth). Integer-exact, so the DuckDB oracle is a recursive CTE and
  the comparison is a full value-hash.
- ``q_pagerank`` — fixed-iteration power iteration (damping 0.85,
  5 iterations, uniform init). The oracle unrolls the same five steps
  as nested CTEs; both engines round the final mean-normalized rank to
  4 decimals (cross-engine summation order differs in the last ulp —
  the registry-wide double discipline).

Scale design (100 TB posture):

- Edge derivation is a lineitem self-join co-partitioned on
  ``l_orderkey`` (ONE shuffle per side); per-order pair fanout is
  bounded by order size (≤ 7 lines in TPC-H-shaped data), so no task
  can explode regardless of corpus size.
- BFS expands the FRONTIER only (newly-reached nodes, via left_anti
  against the visited set), never the whole reached set — re-expansion
  is the classic BFS-at-scale mistake. Depth is a fixed constant, so
  the loop is plan-unrolled with zero driver-side actions.
- PageRank keeps the node count as a broadcast 1-row frame (no
  ``collect()``); each iteration is contribution-join → groupBy(dst),
  i.e. the textbook two-shuffle Pregel step Catalyst can pipeline.
  Dangling-node mass is dropped (documented variant) — both engines
  implement the identical recurrence, so parity is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.operators.pinutil import pinned
from data_engineering_project_spotify_app_spark.operators.registry import query
from data_engineering_project_spotify_app_spark.tables import table

SEED_MOD = 1000  # seed parts: p_partkey % SEED_MOD == 0
MAX_HOPS = 3
PR_DAMPING = 0.85
PR_ITERS = 5

# Both directions of the undirected co-purchase edge set, distinct.
_EDGES_SQL = """
    e0 AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    )
"""


def landed_part_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order distinct part baskets (l_orderkey, ps) as a shared
    bucketed landing — the frame BOTH the co-purchase edge build and
    the item-CF recommender start from (one groupBy over lineitem that
    every consumer used to re-pay). Bucketed by l_orderkey; per-row
    payload is order-size-bounded (≤ 7 parts in TPC-H-shaped data).
    Derive-once contract: sources/bucketed.landed_frame."""
    from data_engineering_project_spotify_app_spark.sources.bucketed import (
        landed_frame,
    )

    def build():
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        return li.groupBy("l_orderkey").agg(
            F.array_distinct(F.collect_list("l_partkey")).alias("ps")
        )

    return landed_frame(
        spark, sf_dir, "part_baskets", "l_orderkey", build
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct directed edge list (src, dst), both directions.

    Bucket-collect build, not a lineitem self-join: ONE shuffle of
    (orderkey, partkey) into per-order part arrays, pairs generated
    array-side, then the global distinct. The self-join form shuffled
    AND sorted both 600 k-row sides before producing its first pair —
    measured 3.2 s vs 1.8 s warm for this form at sf0.1. Per-order
    fanout is order_size² (bounded by the schema, ≤ 7 lines per order
    in TPC-H-shaped data), so no array and no task can explode
    regardless of corpus size. Both orientations are emitted so
    consumers never need a mirror union.
    """
    grp = landed_part_baskets(spark, sf_dir)
    return basket_edges(grp)


def basket_edges(baskets: DataFrame) -> DataFrame:
    """Distinct directed co-occurrence edges from a basket frame
    (any frame with a ``ps: array`` column) — the array-side pair
    generation stage shared by the batch edge build above and the
    streaming landing maintainer (streaming/landing_stream.py)."""
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> "
                    "transform(ps, y -> struct(x AS src, y AS dst))))"
                )
            ).alias("pr")
        )
        .select("pr.src", "pr.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    return pairs.distinct()


def landed_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase edge frame as a shared, bucketed, at-rest table.

    Seven graph queries consume the SAME derived edge set; re-deriving
    it per query re-pays the basket build + 1.2 M-row distinct each
    time (the top two bench entries both paid it). Landing it once as
    a managed parquet table bucketed+sorted on ``src``
    (sources/bucketed.py) makes every later consumer a table scan, and
    the src-bucketing co-locates the degree aggregations and src-keyed
    joins the family runs next. This is the graph twin of the IVF
    at-rest inverted lists: derive once, probe many.
    """
    from data_engineering_project_spotify_app_spark.sources.bucketed import (
        landed_frame,
    )

    return landed_frame(
        spark,
        sf_dir,
        "copurchase_edges",
        "src",
        lambda: copurchase_edges(spark, sf_dir),
        sort_cols=["src", "dst"],
    )


@query(
    "q_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    bfs (part, hops) AS (
      SELECT p_partkey, 0 FROM part WHERE p_partkey % {SEED_MOD} = 0
      UNION
      SELECT e0.dst, bfs.hops + 1
      FROM bfs JOIN e0 ON e0.src = bfs.part
      WHERE bfs.hops < {MAX_HOPS}
    )
    SELECT part AS part_key, CAST(min(hops) AS INT) AS hops
    FROM bfs GROUP BY part
    """,
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop distance from seed parts over the co-purchase graph,
    depth-bounded at {MAX_HOPS}.

    Frontier-only expansion: each unrolled step joins only the nodes
    first reached in the previous step against the edge list, then
    left_anti-prunes everything already visited — the visited set grows
    by union but each JOIN input is the (shrinking) frontier, which is
    what keeps iteration cost proportional to newly-discovered nodes at
    scale. No driver-side action anywhere; the fixed depth makes the
    whole traversal one declarative plan.
    """
    edges = landed_copurchase_edges(spark, sf_dir)
    seeds = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % SEED_MOD == 0)
        .select(F.col("p_partkey").alias("part"))
    )
    return bfs_hops(seeds, edges, MAX_HOPS)


# Unpinned-BFS depth ceiling (VERDICT r14 item 7). Each hop's discovery
# frame is consumed twice downstream (next frontier + the visited
# union), so the unrolled lineage roughly DOUBLES per hop (66 scans /
# 32 exchanges at depth 3). Measured r14 at the registered depth 3:
# pinning each hop behind a lazy localCheckpoint cost MORE than the
# recompute it saved (1.40 -> 1.82 s min-of-4 same-session A/B at
# sf0.1 — three extra job barriers break AQE's broadcast pipelining of
# the traversal into few stages), so shallow traversals stay unpinned.
# Past this depth the 2^h lineage growth must flip that trade (plan
# size alone becomes the cost), so deeper traversals pin each hop's
# discovery frame — the depth-conditional rule rather than a constant
# choice that silently inverts if MAX_HOPS ever grows.
BFS_PIN_DEPTH = 3


def bfs_hops(seeds: DataFrame, edges: DataFrame, max_hops: int) -> DataFrame:
    """DataFrame-level BFS: seeds (part) × directed edges (src, dst) →
    (part_key, hops). Property-tested on hypothesis-generated random
    graphs against a sequential reference (test_graph_properties.py),
    including depths past BFS_PIN_DEPTH so the pinned path is covered."""
    from data_engineering_project_spotify_app_spark.operators.pinutil import (
        pinned,
    )

    pin_hops = max_hops > BFS_PIN_DEPTH
    visited = seeds.withColumn("hops", F.lit(0))
    frontier = seeds
    for h in range(1, max_hops + 1):
        nbrs = (
            frontier.join(edges, frontier["part"] == edges["src"])
            .select(F.col("dst").alias("part"))
            .distinct()
        )
        new = nbrs.join(visited.select("part"), "part", "left_anti")
        # Depth-conditional pin (see BFS_PIN_DEPTH above): only deep
        # traversals pay the per-hop checkpoint barrier; the last hop
        # never pins (its frame is consumed once, in the final union).
        if pin_hops and h < max_hops:
            new = pinned(new)
        visited = visited.unionByName(new.withColumn("hops", F.lit(h)))
        frontier = new
    return visited.select(
        F.col("part").alias("part_key"), F.col("hops").cast("int").alias("hops")
    )


def _pagerank_oracle() -> str:
    """Unrolled power-iteration oracle: it0 = uniform, it{{k}} = one
    contribution-sum step. Built by a Python loop so the SQL text stays
    literally in lock-step with the Spark recurrence."""
    steps = []
    for k in range(1, PR_ITERS + 1):
        steps.append(f"""
    it{k} AS (
      SELECT nd.part,
             (1.0 - {PR_DAMPING}) / nc.n + {PR_DAMPING} * coalesce(c.s, 0.0) AS r
      FROM nodes nd
      CROSS JOIN nc
      LEFT JOIN (
        SELECT ec.dst, sum(p.r / ec.deg) AS s
        FROM it{k - 1} p JOIN ec ON ec.src = p.part
        GROUP BY ec.dst
      ) c ON c.dst = nd.part
    )""")
    return f"""
    WITH {_EDGES_SQL},
    nodes AS (SELECT p_partkey AS part FROM part),
    nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (
      SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e0 GROUP BY src
    ),
    ec AS (SELECT e0.src, e0.dst, outdeg.deg FROM e0 JOIN outdeg USING (src)),
    it0 AS (SELECT part, 1.0 / nc.n AS r FROM nodes CROSS JOIN nc),
    {",".join(steps)}
    SELECT part AS part_key, round(r * nc.n, 4) AS rank_norm
    FROM it{PR_ITERS} CROSS JOIN nc
    """


@query("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph: damping {PR_DAMPING},
    {PR_ITERS} fixed iterations, uniform init over the full part
    universe (isolated parts keep the teleport mass). Output is the
    mean-normalized rank (pr × N, so 1.0 = average node), rounded to 4.

    Each iteration: rank ⋈ weighted-edge list on the source key →
    sum(r/deg) per destination → left join back onto the node universe
    for the teleport term. The node count rides along as a broadcast
    1-row frame — zero driver-side actions, the whole 5-step recurrence
    is one declarative plan. Dangling mass is dropped (same recurrence
    in the oracle), the standard simplification when ranks are only
    used for ordering.
    """
    edges = landed_copurchase_edges(spark, sf_dir)
    nodes = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("part")
    )
    return pagerank(nodes, edges, PR_ITERS, PR_DAMPING)


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
) -> DataFrame:
    """DataFrame-level power iteration: nodes (part) × directed edges
    (src, dst) → (part_key, rank_norm). Property-tested on random
    graphs against a sequential reference (test_graph_properties.py)."""
    # The degree table is LOOP-INVARIANT but consumed by every
    # unrolled iteration; unpinned, each of the 5 contribution joins
    # re-ran the edge scan + degree aggregation (before-plan: 46
    # scans). Pinning the |V|-sized outdeg alone measured fastest in
    # the r14 same-session A/B (0.52 -> 0.47 s min-of-4 at sf0.1);
    # pinning the EDGE-sized ec frame instead was slower (0.61 s —
    # materializing |E| rows costs more than 5 cheap landing scans),
    # and pinning the 1-row nc was a wash (kept unpinned: each
    # re-aggregation is a pruned part scan).
    nc = nodes.agg(F.count("*").cast("double").alias("n"))
    outdeg = pinned(
        edges.groupBy("src").agg(F.count("*").cast("double").alias("deg"))
    )
    ec = edges.join(outdeg, "src")
    pr = nodes.crossJoin(F.broadcast(nc)).select(
        "part", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(iters):
        contrib = (
            pr.join(ec, pr["part"] == ec["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("s"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(nc))
            .join(contrib, nodes["part"] == contrib["dst"], "left")
            .select(
                "part",
                (
                    (1.0 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return pr.crossJoin(F.broadcast(nc)).select(
        F.col("part").alias("part_key"),
        F.round(F.col("r") * F.col("n"), 4).alias("rank_norm"),
    )


@query(
    "q_triangle_count",
    oracle=f"""
    WITH {_EDGES_SQL},
    e AS (SELECT src AS a, dst AS b FROM e0 WHERE src < dst),
    tri AS (
      SELECT ab.a AS x, ab.b AS y, ac.b AS z
      FROM e ab
      JOIN e ac ON ac.a = ab.a AND ac.b > ab.b
      JOIN e bc ON bc.a = ab.b AND bc.b = ac.b
    ),
    pernode AS (
      SELECT unnest([x, y, z]) AS part_key FROM tri
    )
    SELECT part_key, CAST(count(*) AS BIGINT) AS n_triangles
    FROM pernode GROUP BY part_key
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count over the co-purchase graph (the local
    clustering signal — parts that form tight co-purchase cliques).

    Spark side uses DEGREE-ORDERED orientation (Cohen 2009 / the
    MapReduce triangle-counting standard) with the EDGE-ITERATOR
    counting step: each undirected edge points from its lower-
    (degree, id) endpoint to the higher one, each node's out-neighbor
    set is collected once, and a triangle (s, d, c) is found as
    c ∈ N⁺(s) ∩ N⁺(d) for the oriented edge s→d — every triangle
    exactly once, at its lowest-rank edge. Orientation bounds |N⁺| at
    O(√|E|), so the per-edge intersection payload is bounded even at a
    10⁶-degree hub; the intersection itself is a codegen
    ``array_intersect``, NOT a join over materialized wedges (the
    wedge-join form shuffled Σ C(outdeg,2) rows — measured 10.8 s vs
    ~4 s for this form at sf0.1's 1.2 M-edge / 1.9 M-triangle graph).

    Reads the SHARED bucketed edge landing (landed_copurchase_edges):
    the whole graph family pays the basket build + 1.2 M-row distinct
    ONCE per corpus, and this query starts from a src-bucketed table
    scan. See _triangle_counts_from_pairs for the remaining plan
    discipline (cache placement, carried neighbor arrays,
    single-explode contributions).

    The triangle SET is orientation-invariant, so the oracle uses the
    simple id-ordered a<b<c wedge-join enumeration: identical
    triangles, identical counts.
    """
    return _triangle_counts_from_oadj(
        landed_oriented_adjacency(spark, sf_dir)
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """DataFrame-level edge-iterator triangle counting: both-direction
    distinct edges (src, dst) → (part_key, n_triangles), only nodes in
    ≥ 1 triangle. Property-tested on random graphs against a
    sequential reference (test_graph_properties.py)."""
    return _triangle_counts_from_pairs(
        edges.filter(F.col("src") < F.col("dst"))
    )


def _triangle_counts_from_pairs(pairs: DataFrame) -> DataFrame:
    """Edge-iterator triangle counting from src<dst pairs (multiplicity
    allowed — dedup folds into the degree/adjacency aggregations).

    Plan discipline, each choice A/B-measured at sf0.1 (1.2 M edges,
    1.9 M triangles):

    - ``pairs`` is lazily localCheckpoint-ed: it feeds the degree
      pass and the orientation join — without caching the upstream
      derivation recomputes per consumer. LAZY (eager=False): eager
      checkpointing pays a separate materialization pass per cached
      frame — swapping both EAGER checkpoints for lazy sharing
      measured 3.63 → 1.71 s min-of-3 at sf0.1, identical results
      (r11 re-measure: lazy localCheckpoint == lazy persist within
      noise, 1.7 s). localCheckpoint, not persist: the SQL
      CacheManager holds strong references to persist()-ed plans, so
      GC does NOT free those blocks in long-lived sessions (ADVICE
      r10 leak class); checkpoint blocks die with the DataFrame.
    - Degrees come from one ``count_distinct`` aggregation over both
      directions; the |V|-sized result joins onto the pair list for the
      (deg, id) orientation WITHOUT a broadcast hint — the degree table
      is O(|V|) and the adjacency below is O(|E|), so a forced
      broadcast would be impossible at cluster scale. AQE converts
      both joins to broadcast at runtime while the build side is small
      (asserted on the executed plan in tests/test_plans.py); at 100 TB
      they degrade gracefully to co-partitioned shuffle joins.
    - The oriented adjacency (collect_set — dedups multiplicity) is
      persisted, then each edge CARRIES its source neighbor array
      out of the adjacency explode instead of joining back on s — one
      join (on d) instead of two.
    - Per-edge contributions ((s, m), (d, m), (c, 1) per apex) are
      built array-side and exploded ONCE: the earlier two-branch union
      (ends ⊎ apexes) referenced the probe twice, recomputing the
      whole intersection stage per branch — measured 1.56 s → 0.9 s
      for the counting stage alone.
    """
    pairs = pairs.localCheckpoint(eager=False)
    oadj = _oriented_adjacency(pairs).localCheckpoint(eager=False)
    return _triangle_counts_from_oadj(oadj)


def _oriented_adjacency(pairs: DataFrame) -> DataFrame:
    """Degree-ordered oriented adjacency (s, ons) from src<dst pairs —
    the graph INDEX of the triangle family (each undirected edge points
    from its lower-(degree, id) endpoint; |N⁺| bounded at O(√|E|))."""
    both = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    degs = both.groupBy("src").agg(F.count_distinct("dst").alias("deg"))
    ds = degs.select("src", F.col("deg").alias("deg_s"))
    dd = degs.select(F.col("src").alias("dst"), F.col("deg").alias("deg_d"))
    ranked = pairs.join(ds, "src").join(dd, "dst")
    fwd = F.struct(F.col("deg_s"), F.col("src")) < F.struct(
        F.col("deg_d"), F.col("dst")
    )
    o = ranked.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("s"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("d"),
    )
    return o.groupBy("s").agg(F.collect_set("d").alias("ons"))


def landed_oriented_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oriented adjacency as a shared bucketed landing: BOTH
    triangle consumers (q_triangle_count, q_clustering_coefficient)
    rebuild the same degree+orientation+collect_set index (~1 s of each
    query at sf0.1); landing it leaves only the intersect stage per
    query. Derived from the landed edge table, so the whole chain is
    derive-once. The neighbor-SET content is deterministic (array order
    is not, but every consumer is order-insensitive: array_intersect +
    size)."""
    from data_engineering_project_spotify_app_spark.sources.bucketed import (
        landed_frame,
    )

    return landed_frame(
        spark,
        sf_dir,
        "oriented_adjacency",
        "s",
        lambda: _oriented_adjacency(
            landed_copurchase_edges(spark, sf_dir).filter(
                F.col("src") < F.col("dst")
            )
        ),
    )


def _triangle_counts_from_oadj(oadj: DataFrame) -> DataFrame:
    """The counting stage of the edge-iterator: explode each node's
    oriented neighbor list, carry the source array, intersect with the
    destination's list, fold contributions."""
    # The adjacency frame is small in SHUFFLE BYTES (|V| rows), so AQE
    # coalesces it to a handful of partitions — but the work below
    # AMPLIFIES per row (explode to |E| edges, then an O(|N⁺|)
    # intersection each): at sf0.1 the whole intersect stage landed on
    # 5 of 32 cores. Spread the persisted adjacency round-robin to
    # full parallelism BEFORE the explode — a ~|V|-row shuffle, paid
    # once, that parallelizes the dominant stage (5.1 → 0.9 s
    # min-of-3 — the intersect stage WAS the whole query cost). The
    # same explode-amplification discipline as table_parallel on the
    # mapInPandas paths.
    fanout = oadj.sparkSession.sparkContext.defaultParallelism
    oadj_spread = oadj.repartition(fanout)
    e = oadj_spread.select(
        "s", F.explode("ons").alias("d"), F.col("ons").alias("ns_s")
    )
    oadj_d = oadj.select(F.col("s").alias("d"), F.col("ons").alias("ns_d"))
    e_sd = e.join(oadj_d, "d", "left").select(
        "s",
        "d",
        F.array_intersect(
            "ns_s", F.coalesce("ns_d", F.array().cast("array<bigint>"))
        ).alias("common"),
    )
    contrib = (
        e_sd.filter(F.size("common") > 0)
        .select(
            F.explode(
                F.expr(
                    "concat("
                    "array(struct(s AS part_key, "
                    "CAST(size(common) AS BIGINT) AS cnt), "
                    "struct(d AS part_key, "
                    "CAST(size(common) AS BIGINT) AS cnt)), "
                    "transform(common, c -> "
                    "struct(c AS part_key, CAST(1 AS BIGINT) AS cnt)))"
                )
            ).alias("pc")
        )
        .select("pc.part_key", "pc.cnt")
    )
    return contrib.groupBy("part_key").agg(F.sum("cnt").alias("n_triangles"))


@query(
    "q_degree_histogram",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (SELECT src, count(*) AS degree FROM e0 GROUP BY src)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1
    """,
)
def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: how many nodes have
    each degree — the first diagnostic run on any derived graph (heavy
    right tail ⇒ hub nodes ⇒ salt or cap before any per-node pairwise
    op; the bucket caps in dedup.py exist because of exactly this
    shape). Edges are emitted in both orientations, so out-degree =
    total degree.

    Scale: degree is a hash agg on src over the edge list, and the
    histogram re-agg is |distinct degrees| rows — two partial-aggregated
    shuffles, each strictly smaller than its input.
    """
    edges = landed_copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


@query(
    "q_bfs_recursive",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    bfs (part, hops) AS (
      SELECT p_partkey, 0 FROM part WHERE p_partkey % {SEED_MOD} = 0
      UNION
      SELECT e0.dst, bfs.hops + 1
      FROM bfs JOIN e0 ON e0.src = bfs.part
      WHERE bfs.hops < {MAX_HOPS}
    )
    SELECT part AS part_key, CAST(min(hops) AS INT) AS hops
    FROM bfs GROUP BY part
    """,
)
def q_bfs_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS via Spark 4's native ``WITH RECURSIVE`` — the
    DECLARATIVE-iteration twin of q_bfs_hops (graphs.py:107), same
    semantics, same oracle. Exists to exercise the engine's recursive
    SQL surface end-to-end: a user migrating warehouse recursive CTEs
    runs them as-is.

    Scale note: Spark's recursive CTE supports UNION ALL only (no
    UNION-distinct reachability dedup), and naive walk enumeration is
    combinatorial on a dense graph — it blew past a 20M-row recursion
    limit at sf0.1 (avg out-degree ~60, so seeds · 60^{MAX_HOPS}
    walks). The fix is DISTINCT inside the recursive step: hops is
    constant within a step, so each step is the DEDUPED frontier
    (≤ |V| rows) and the whole recursion is bounded by
    seeds + MAX_HOPS·|V| regardless of density. Re-visited nodes still
    re-expand (no visited-set anti-join — that is q_bfs_hops, the
    plan-unrolled production form), but row counts stay graph-sized,
    and the final min(hops) gives identical semantics.
    """
    # per-step-distinct keeps rows ≤ seeds + MAX_HOPS·|V|; the limit is
    # belt-and-braces headroom over the 1M default (runtime-settable
    # SQL conf, same defensive pattern as tables._ensure_session_confs)
    spark.conf.set("spark.sql.cteRecursionRowLimit", "20000000")
    edges = landed_copurchase_edges(spark, sf_dir)
    edges.createOrReplaceTempView("bfs_edges_v")
    seeds = table(spark, sf_dir, "part").filter(
        F.col("p_partkey") % SEED_MOD == 0
    ).select("p_partkey")
    seeds.createOrReplaceTempView("bfs_seeds_v")
    return spark.sql(
        f"""
        WITH RECURSIVE bfs (part, hops) AS (
          SELECT p_partkey, 0 FROM bfs_seeds_v
          UNION ALL
          SELECT DISTINCT e.dst, bfs.hops + 1
          FROM bfs JOIN bfs_edges_v e ON e.src = bfs.part
          WHERE bfs.hops < {MAX_HOPS}
        )
        SELECT part AS part_key, CAST(min(hops) AS INT) AS hops
        FROM bfs GROUP BY part
        """
    )


@query(
    "q_assortativity",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (SELECT src AS node, count(*) AS d FROM e0 GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_edges,
           round(corr(CAST(da.d AS DOUBLE), CAST(db.d AS DOUBLE)), 6)
             AS assortativity
    FROM e0
    JOIN deg da ON da.node = e0.src
    JOIN deg db ON db.node = e0.dst
    """,
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: Pearson corr of
    endpoint degrees over all (directed) edges — positive means hubs
    link hubs (social-network shape), negative means hubs link leaves
    (hub-and-spoke; typical for co-purchase and the reason LSH bucket
    caps matter — hot nodes fan into everything). Newman's r as one
    corr aggregate; both edge orientations are present, so the
    symmetric estimator comes out directly.

    Scale: degrees are a hash agg on the edge list; the two
    enrichment joins are degree-frame joins keyed by node
    (high-cardinality), and the corr is a closed-form one-pass
    aggregate (the regress.py posture on a graph).
    """
    edges = landed_copurchase_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("db"))
    return (
        edges.join(da, "src")
        .join(db, "dst")
        .agg(
            F.count("*").alias("n_edges"),
            F.round(
                F.corr(
                    F.col("da").cast("double"), F.col("db").cast("double")
                ),
                6,
            ).alias("assortativity"),
        )
    )


@query(
    "q_clustering_coefficient",
    oracle=f"""
    WITH {_EDGES_SQL},
    und AS (SELECT src, dst FROM e0 WHERE src < dst),
    tri AS (
      SELECT count(*) AS n_tri
      FROM und ab
      JOIN und bc ON bc.src = ab.dst
      JOIN und ac ON ac.src = ab.src AND ac.dst = bc.dst
    ),
    deg AS (SELECT src AS node, count(*) AS d FROM e0 GROUP BY 1),
    wedges AS (SELECT sum(d * (d - 1) / 2.0) AS n_wedges FROM deg)
    SELECT CAST(tri.n_tri AS BIGINT) AS n_triangles,
           CAST(wedges.n_wedges AS BIGINT) AS n_wedges,
           round(3.0 * tri.n_tri / wedges.n_wedges, 6)
             AS clustering_coefficient
    FROM tri, wedges
    """,
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity): 3·triangles /
    wedges — what fraction of open two-paths close into triangles.
    High transitivity is the community signature; near-zero means the
    graph is tree-/star-like and community detection will find
    nothing. Composes the registered triangle machinery with a
    one-aggregate wedge count (Σ d(d−1)/2).

    Scale: triangle counting is the degree-ordered edge-iterator
    (q_triangle_count's plan); wedges are one hash agg over the degree
    frame. Both reduce to single rows before the final join.
    """
    # Two consumers (triangle counting AND the degree/wedge aggregate)
    # read the edge list — the shared bucketed landing makes both reads
    # table scans (the earlier persist() avoided a double derivation;
    # the landing removes the derivation from this query entirely).
    edges = landed_copurchase_edges(spark, sf_dir)
    tri = (
        _triangle_counts_from_oadj(landed_oriented_adjacency(spark, sf_dir))
        .agg((F.sum("n_triangles") / 3).alias("n_tri"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2.0).alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        F.col("n_tri").cast("bigint").alias("n_triangles"),
        F.col("n_wedges").cast("bigint").alias("n_wedges"),
        F.round(
            F.lit(3.0) * F.col("n_tri") / F.col("n_wedges"), 6
        ).alias("clustering_coefficient"),
    )
