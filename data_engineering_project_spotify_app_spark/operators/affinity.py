"""Market-basket affinity: association rules over co-ordered items.

The classic retail-analytics question the orders/lineitem fact pair
exists to answer: "customers who bought X also bought Y" — support /
confidence / lift for directed item pairs (Agrawal & Srikant's Apriori
measures, VLDB'94). The reference delegates this shape to its warehouse
(reference app.py:1 routes every analytical query to SQL); here it is a
first-class distributed operator.

Spark-first design — ONE basket shuffle, pairs generated in-plan:

- Items are rolled up to brand grain via a **broadcast** dim join
  (part is a dimension; never shuffle the fact by p_partkey).
- Baskets are built with a single groupBy(l_orderkey) collect_set —
  the only data-sized shuffle in the plan. Directed pairs are then
  generated INSIDE codegen with nested higher-order transforms over
  the basket array (no self-join: a fact-×-fact join on l_orderkey
  would shuffle the fact twice and re-materialize it per pair).
- Per-item frequencies and the basket total are tiny aggregates
  broadcast back onto the pair counts.

Scale: basket size is bounded (items per order is small and bounded in
any real schema), so the in-plan pair fan-out is O(k²) per basket with
small k — at 100 TB this stays a single map-side explode off one
shuffle. The Apriori refinement at scale: pre-filter items below
min-support with a broadcast frequent-item set BEFORE pairing; the
fixture's 25-brand grain makes every item frequent, so the filter is
expressed by the pair_n >= MIN_PAIR_N cut alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.functions.pairs import (
    sorted_pairs,
)
from data_engineering_project_spotify_app_spark.operators.pinutil import pinned
from data_engineering_project_spotify_app_spark.operators.registry import query
from data_engineering_project_spotify_app_spark.tables import table

# Minimum co-occurrence count for a rule to be emitted. Keeps the rule
# set to genuinely-supported pairs (and bounds output size at any SF).
MIN_PAIR_N = 5


_RULES_ORACLE = f"""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand AS brand
      FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM ob),
    brand_n AS (SELECT brand, count(*) AS bn FROM ob GROUP BY brand),
    pair_n AS (
      SELECT a.brand AS ante_brand, b.brand AS cons_brand,
             count(*) AS pair_n
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.brand <> b.brand
      GROUP BY 1, 2
    )
    SELECT p.ante_brand, p.cons_brand,
           CAST(p.pair_n AS BIGINT) AS pair_n,
           round(p.pair_n * 1.0 / n.n, 6) AS support,
           round(p.pair_n * 1.0 / ba.bn, 6) AS confidence,
           round(p.pair_n * 1.0 * n.n / (ba.bn * bc.bn), 6) AS lift
    FROM pair_n p
    JOIN brand_n ba ON ba.brand = p.ante_brand
    JOIN brand_n bc ON bc.brand = p.cons_brand
    CROSS JOIN n_orders n
    WHERE p.pair_n >= {MIN_PAIR_N}
    """


@query("q_association_rules", oracle=_RULES_ORACLE)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed brand→brand association rules with support/confidence/lift.

    support(A→B) = P(A,B); confidence = P(B|A); lift = P(A,B)/(P(A)P(B)).
    lift > 1 means the pair co-occurs more than independence predicts.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    # Four consumers (pairs, frequencies, total, and the two frequency
    # aliases) read the basket aggregate; column pruning specializes the
    # aggregate per branch, which defeats Exchange reuse, so without a
    # shared materialization Spark re-runs the scan→broadcast-join→
    # distinct→collect_set lineage per consumer (measured: 16 parquet
    # scans → 4; wall 2.1 s → 1.9 s at sf0.1 — the in-plan pair
    # explosion dominates, sharing buys the scans back). Lazy
    # localCheckpoint, not persist: CacheManager pins persist()-ed
    # plans past GC (ADVICE r10 leak class); checkpoint blocks are
    # GC-reclaimed with the DataFrame.
    baskets = ob.groupBy("l_orderkey").agg(
        F.collect_set("brand").alias("bs")
    ).localCheckpoint(eager=False)

    # UNDIRECTED pairs inside codegen (a < b via sorted_pairs), mirrored
    # to directed AFTER aggregation: co-occurrence counts are
    # orientation-symmetric (pair_n(a→b) = pair_n(b→a) = the
    # number of baskets holding both), so exploding k² directed pairs
    # per basket shuffled twice the rows for information the ≤
    # |brands|²/2-row aggregate already holds. Halves the explode
    # fan-out and the pair shuffle (guide §2.3: shuffle fewer bytes);
    # the mirror union runs on the aggregated frame (tiny).
    pair = F.explode(sorted_pairs("bss", "a", "b"))
    upairs = (
        baskets.select(F.array_sort("bs").alias("bss"))
        .select(pair.alias("pr"))
        .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .count()
        .withColumnRenamed("count", "pair_n")
        .filter(F.col("pair_n") >= MIN_PAIR_N)
        # two union branches consume this ≤ |brands|²/2-row frame;
        # checkpoint so the basket explode+aggregate runs once
        .localCheckpoint(eager=False)
    )
    pairs = upairs.select(
        F.col("a").alias("ante_brand"),
        F.col("b").alias("cons_brand"),
        "pair_n",
    ).unionByName(
        upairs.select(
            F.col("b").alias("ante_brand"),
            F.col("a").alias("cons_brand"),
            "pair_n",
        )
    )

    # Derive frequencies and the total from the SAME basket aggregate the
    # pairs come from (ob is distinct, so exploding baskets reproduces it
    # exactly) — with the persist above, every consumer reads one
    # materialized frame instead of re-running the scan→join→distinct
    # lineage (see the measured numbers on the persist comment).
    brand_n = (
        baskets.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count("*").alias("bn"))
    )
    n_orders = baskets.agg(F.count("*").alias("n"))

    ba = brand_n.select(
        F.col("brand").alias("ante_brand"), F.col("bn").alias("bn_a")
    )
    bc = brand_n.select(
        F.col("brand").alias("cons_brand"), F.col("bn").alias("bn_c")
    )
    return (
        pairs.join(F.broadcast(ba), "ante_brand")
        .join(F.broadcast(bc), "cons_brand")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ante_brand",
            "cons_brand",
            "pair_n",
            F.round(F.col("pair_n") / F.col("n"), 6).alias("support"),
            F.round(F.col("pair_n") / F.col("bn_a"), 6).alias("confidence"),
            F.round(
                F.col("pair_n") * F.col("n") / (F.col("bn_a") * F.col("bn_c")),
                6,
            ).alias("lift"),
        )
    )


_AUDIENCE_ORACLE = """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tn AS (SELECT event_type, count(*) AS un FROM ut GROUP BY 1),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b,
           CAST(i.n_both AS BIGINT) AS n_both,
           CAST(ta.un AS BIGINT) AS n_a,
           CAST(tb.un AS BIGINT) AS n_b,
           round(i.n_both * 1.0 / (ta.un + tb.un - i.n_both), 6) AS jaccard
    FROM inter i
    JOIN tn ta ON ta.event_type = i.type_a
    JOIN tn tb ON tb.event_type = i.type_b
    """


@query("q_audience_overlap", oracle=_AUDIENCE_ORACLE)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: exact Jaccard of user sets
    for every unordered type pair — "how much of the clicking audience
    also purchases?". Same in-plan pair generation as
    q_association_rules at the user grain: ONE collect_set shuffle per
    user, unordered pairs exploded inside codegen, |types|²-sized
    everything after. |A∪B| folds from the per-type totals
    (n_a + n_b − n_both) — no second pass over users.

    The exact twin of what q_kmv_set_ops estimates with sketches; at
    100 TB you run THIS for the handful of headline pairs and the
    sketch for the full pairwise matrix.
    """
    ut = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    # Consumed by the pair explode AND the per-type totals; the two
    # branches project differently, so the collect_set exchange was NOT
    # reused and the events scan + distinct + set-collect ran twice
    # (before-plan: 12 exchanges). Pin it (guide §2.4).
    sets = ut.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("ts")
    ).localCheckpoint(eager=False)
    pair = F.explode(
        F.flatten(
            F.transform(
                "ts",
                lambda a: F.filter(
                    F.transform(
                        "ts",
                        lambda b: F.struct(
                            a.alias("type_a"), b.alias("type_b")
                        ),
                    ),
                    lambda s: s["type_a"] < s["type_b"],
                ),
            )
        )
    )
    inter = (
        sets.select(pair.alias("pr"))
        .select("pr.type_a", "pr.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    # Fold the per-type totals from the same per-user set aggregate the
    # pairs use (one shared Exchange, reused — the q_association_rules
    # lineage note).
    tn = (
        sets.select(F.explode("ts").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").alias("un"))
    )
    ta = tn.select(F.col("event_type").alias("type_a"), F.col("un").alias("n_a"))
    tb = tn.select(F.col("event_type").alias("type_b"), F.col("un").alias("n_b"))
    return (
        inter.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


BRIDGE_Y0, BRIDGE_Y1 = 1996, 1997


_BRIDGE_ORACLE = f"""
    WITH y AS (
      SELECT p.p_brand AS brand,
             CAST(year(l.l_shipdate) AS INT) AS yr,
             sum(l.l_quantity) AS qty,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE year(l.l_shipdate) IN ({BRIDGE_Y0}, {BRIDGE_Y1})
      GROUP BY 1, 2
    ),
    w AS (
      SELECT a.brand,
             a.qty AS q0, a.rev AS r0, a.rev / a.qty AS p0,
             b.qty AS q1, b.rev AS r1, b.rev / b.qty AS p1
      FROM y a JOIN y b ON b.brand = a.brand
      WHERE a.yr = {BRIDGE_Y0} AND b.yr = {BRIDGE_Y1}
    )
    SELECT brand,
           round(r1 - r0, 2) AS delta_rev,
           round((p1 - p0) * q0, 2) AS price_effect,
           round(p0 * (q1 - q0), 2) AS volume_effect,
           round((p1 - p0) * (q1 - q0), 2) AS mix_effect
    FROM w
    """


@query("q_revenue_bridge", oracle=_BRIDGE_ORACLE)
def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue bridge per brand: ΔRev decomposed into
    price, volume, and cross (mix) effects —
    ΔR = Δp·q₀ + p₀·Δq + Δp·Δq, the additive decomposition every
    finance review runs (p = realized unit price = rev/qty). The
    identity is exact before rounding; tests pin it.

    Scale: ONE scan of lineitem with the year filter pushed to the
    parquet reader, broadcast dim join to brand, and a |brands|×2
    aggregate; the year-pivot self-join runs on the tiny aggregate,
    never the fact.
    """
    li = (
        table(spark, sf_dir, "lineitem")
        # Range predicate on the raw column (not year()) so it reaches
        # the parquet scan as a pushed filter / row-group prune.
        .filter(
            (F.col("l_shipdate") >= F.lit(f"{BRIDGE_Y0}-01-01"))
            & (F.col("l_shipdate") < F.lit(f"{BRIDGE_Y1 + 1}-01-01"))
        )
        .select(
            "l_partkey",
            F.year("l_shipdate").alias("yr"),
            "l_quantity",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "net"
            ),
        )
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # Both pivot sides (y0/y1) consume the |brands|×2 panel; unpinned,
    # the filtered lineitem scan + brand join + aggregate ran once per
    # side (guide §2.4).
    y = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), "yr")
        .agg(F.sum("l_quantity").alias("qty"), F.sum("net").alias("rev"))
    )
    y = pinned(y)
    y0 = y.filter(F.col("yr") == BRIDGE_Y0).select(
        "brand",
        F.col("qty").alias("q0"),
        F.col("rev").alias("r0"),
        (F.col("rev") / F.col("qty")).alias("p0"),
    )
    y1 = y.filter(F.col("yr") == BRIDGE_Y1).select(
        "brand",
        F.col("qty").alias("q1"),
        F.col("rev").alias("r1"),
        (F.col("rev") / F.col("qty")).alias("p1"),
    )
    return y0.join(y1, "brand").select(
        "brand",
        F.round(F.col("r1") - F.col("r0"), 2).alias("delta_rev"),
        F.round((F.col("p1") - F.col("p0")) * F.col("q0"), 2).alias(
            "price_effect"
        ),
        F.round(F.col("p0") * (F.col("q1") - F.col("q0")), 2).alias(
            "volume_effect"
        ),
        F.round(
            (F.col("p1") - F.col("p0")) * (F.col("q1") - F.col("q0")), 2
        ).alias("mix_effect"),
    )


ITEM_CF_K = 5


_ITEM_CF_ORACLE = f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_i AS (SELECT l_partkey AS p, count(*) AS n FROM op GROUP BY 1),
    c AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS c
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT c.src, c.dst,
             round(c.c / sqrt(na.n * nb.n), 4) + 0.0 AS cos_sim
      FROM c
      JOIN n_i na ON na.p = c.src
      JOIN n_i nb ON nb.p = c.dst
    )
    SELECT src, dst, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY src ORDER BY cos_sim DESC, dst) AS rnk
      FROM scored
    )
    WHERE rnk <= {ITEM_CF_K}
    """


@query("q_item_cf", oracle=_ITEM_CF_ORACLE)
def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-{ITEM_CF_K} "also bought"
    neighbors per part by co-occurrence cosine c_ij/√(n_i·n_j)
    (Sarwar et al., WWW'01 — the workhorse recommender before any
    embedding model, and the exact-counts twin of what the ANN family
    approximates). Differs from q_association_rules in grain (item,
    not brand), normalization (cosine, not lift), and output shape
    (per-item ranked neighbor list).

    Scale: co-occurrence counts come from the same single-shuffle
    basket build as copurchase_edges — per-order fanout is order-size²
    (bounded by the schema), never corpus². Item frequencies fold from
    the same baskets; the per-src top-k window is keyed by item
    (high-cardinality, no skew). Ranking uses the ROUNDED cosine with
    a dst tie-break — reproducible across engines.
    """
    from pyspark.sql import Window

    from data_engineering_project_spotify_app_spark.operators.graphs import (
        landed_part_baskets,
    )

    # The shared basket landing replaces the per-query groupBy build
    # (and the persist that guarded its two consumers — both now read
    # the at-rest table).
    baskets = landed_part_baskets(spark, sf_dir)
    # Kept DIRECTED (r14 optimization round): the undirected-then-
    # mirror rewrite that halved q_association_rules' explode regressed
    # here (1.05 → 1.50 s at sf0.1) — at part grain the pair aggregate
    # is millions of TYPES, so checkpointing it for the mirror union
    # costs more than the halved explode saves (at brand grain it is
    # ≤ |brands|² rows and the same rewrite wins).
    pair = F.explode(
        F.expr(
            "flatten(transform(ps, x -> transform("
            "filter(ps, y -> y != x), y -> struct(x AS src, y AS dst))))"
        )
    ).alias("pr")
    c = (
        baskets.select(pair)
        .select("pr.src", "pr.dst")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("c"))
    )
    n_i = (
        baskets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count("*").alias("n"))
        # part-sized; consumed by BOTH join orientations (na, nb)
        .localCheckpoint(eager=False)
    )
    na = n_i.select(F.col("p").alias("src"), F.col("n").alias("na"))
    nb = n_i.select(F.col("p").alias("dst"), F.col("n").alias("nb"))
    scored = (
        c.join(F.broadcast(na), "src")
        .join(F.broadcast(nb), "dst")
        .select(
            "src",
            "dst",
            (
                F.round(F.col("c") / F.sqrt(F.col("na") * F.col("nb")), 4)
                + F.lit(0.0)
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "dst")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= ITEM_CF_K)
    )


_HHI_ORACLE = """
    WITH rev AS (
      SELECT n.n_name AS nation, p.p_brand AS brand,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS r
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT nation, sum(r) AS t FROM rev GROUP BY 1)
    SELECT rev.nation,
           CAST(count(*) AS BIGINT) AS n_brands,
           round(sum((rev.r / tot.t) * (rev.r / tot.t)), 6) AS hhi,
           round(max(rev.r / tot.t), 6) AS top_share
    FROM rev JOIN tot ON tot.nation = rev.nation
    GROUP BY 1
    """


@query("q_market_hhi", oracle=_HHI_ORACLE)
def q_market_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per market (customer
    nation): Σ share² of brand revenue — 1/n_brands for a perfectly
    even market, → 1 as one brand dominates; plus the top brand's
    share. The antitrust-grade concentration statistic that pairs with
    q_pareto_report's Gini view of user concentration.

    Scale: the star join broadcasts every dimension (part, nation;
    orders→customer is the one fact-sized hop and AQE sizes it); the
    HHI itself runs over the |nations|×|brands| panel.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.col("p_brand").alias("brand")
        )
        .agg(F.sum("net").alias("r"))
        # |nations|×|brands| rows consumed by the share denominator AND
        # the final join — without the checkpoint the whole 5-table star
        # join ran twice (r14 plan audit: 20 scans → 5; guide §2.4)
        .localCheckpoint(eager=False)
    )
    tot = rev.groupBy("nation").agg(F.sum("r").alias("t"))
    share = F.col("r") / F.col("t")
    return (
        rev.join(F.broadcast(tot), "nation")
        .groupBy("nation")
        .agg(
            F.count("*").alias("n_brands"),
            F.round(F.sum(share * share), 6).alias("hhi"),
            F.round(F.max(share), 6).alias("top_share"),
        )
    )


_CYCLE_ORACLE = """
    WITH lag_days AS (
      SELECT o.o_orderpriority AS priority,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS DOUBLE) AS d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(avg(d), 4) AS mean_days,
           round(quantile_cont(d, 0.5), 4) AS median_days,
           round(quantile_cont(d, 0.9), 4) AS p90_days
    FROM lag_days GROUP BY 1
    """


@query("q_order_cycle", oracle=_CYCLE_ORACLE)
def q_order_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship cycle time per order priority: mean / median / p90
    days from order placement to line shipment — the fulfillment-SLA
    panel (does URGENT actually ship faster?), and the operational twin
    of q_interarrival's behavioral gaps.

    Scale: the fact-to-fact hop joins on the orderkey both sides
    already carry (AQE-sized); lags reduce per (priority) with exact
    interpolated percentiles over day-integer doubles — identical in
    both engines (whole-day date_diff, no sub-day precision to drift).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.to_date("l_shipdate"), F.to_date("o_orderdate")
            ).cast("double").alias("d"),
        )
    )
    return d.groupBy("priority").agg(
        F.count("*").alias("n_lines"),
        F.round(F.avg("d"), 4).alias("mean_days"),
        F.round(F.percentile("d", F.lit(0.5)), 4).alias("median_days"),
        F.round(F.percentile("d", F.lit(0.9)), 4).alias("p90_days"),
    )


_AOV_ORACLE = """
    WITH seq AS (
      SELECT o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS k
      FROM orders
    ),
    b AS (
      SELECT CASE WHEN k >= 3 THEN '3+' ELSE CAST(k AS VARCHAR) END
               AS order_index,
             o_totalprice
      FROM seq
    )
    SELECT order_index,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(avg(o_totalprice), 2) AS aov,
           round(quantile_cont(o_totalprice, 0.5), 2) AS median_value
    FROM b GROUP BY 1
    """


@query("q_aov_by_order_index", oracle=_AOV_ORACLE)
def q_aov_by_order_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average order value by the customer's order INDEX (1st, 2nd,
    3rd-plus) — do repeat orders grow or shrink? The panel behind
    "first-order discounts pay back" debates, and the order-sequence
    twin of q_new_vs_returning's daily split.

    Scale: one customer-keyed row_number window (high-cardinality
    key), then a 3-group aggregate with exact medians.
    """
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    b = o.select(
        "o_totalprice", F.row_number().over(w).alias("k")
    ).select(
        F.when(F.col("k") >= 3, F.lit("3+"))
        .otherwise(F.col("k").cast("string"))
        .alias("order_index"),
        "o_totalprice",
    )
    return b.groupBy("order_index").agg(
        F.count("*").alias("n_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("aov"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias(
            "median_value"
        ),
    )


_ABC_ORACLE = """
    WITH rev AS (
      SELECT l_partkey AS part_key,
             sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4))) AS r
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT part_key, r,
             sum(r) OVER (ORDER BY r DESC, part_key
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_r,
             sum(r) OVER () AS tot
      FROM rev
    ),
    classed AS (
      SELECT part_key, r,
             CASE WHEN cum_r / tot <= 0.8 THEN 'A'
                  WHEN cum_r / tot <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(round(sum(r), 2) AS DOUBLE) AS revenue,
           round(CAST(sum(r) AS DOUBLE) / CAST(max(tot2) AS DOUBLE), 6)
             AS revenue_share
    FROM (SELECT c.*, (SELECT sum(r) FROM rev) AS tot2 FROM classed c)
    GROUP BY 1
    """


@query("q_abc_classification", oracle=_ABC_ORACLE)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A =
    the head covering 80% of cumulative revenue, B = next 15%, C = the
    tail — the Pareto cut every warehouse runs to decide what to stock
    tightly (the categorical cousin of q_pareto_report's Gini).

    Scale: per-part revenue is one partial-aggregated groupBy; the
    cumulative share runs on the TWO-PHASE global rank's offsets (a
    100 TB part catalog is still millions of rows — no single-task
    window over it); the class summary is 3 rows.
    """
    from data_engineering_project_spotify_app_spark.operators.rankutil import (
        ntile_from_rank,
        two_phase_global_rank,
    )
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    # DECIMAL sums: the cumulative class boundary (cum/tot <= 0.8) must
    # not depend on float summation ORDER — decimal aggregation is exact
    # and order-independent (the q_incremental_rollup convention), so the
    # two-phase cumsum classifies identically to the oracle's sequential
    # running sum even for parts landing exactly on a boundary.
    rev = li.groupBy(F.col("l_partkey").alias("part_key")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("r")
    )
    ranked = two_phase_global_rank(
        rev, [F.col("r").desc(), F.col("part_key")], 8
    )
    # cumulative revenue by rank: the rank is already global and dense,
    # so the running sum buckets by ntile_from_rank — CLOSED-FORM
    # contiguous rank ranges (pid-local window + broadcast offsets),
    # never a second SAMPLED range exchange: the r13 invariance sweep
    # showed the sampled form's two consumers (offset aggregate, local
    # window) can see different boundary samplings under AQE-off
    # configs and misalign the cumulative sums (rankutil docstring).
    ranged = ranked.withColumn(
        "pid", ntile_from_rank(F.col("rn"), F.col("n"), 8)
    )
    psums = ranged.groupBy("pid").agg(F.sum("r").alias("pr"))
    off_w = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offs = psums.select(
        "pid",
        F.coalesce(
            F.sum("pr").over(off_w),
            # decimal zero, NOT 0.0: a double literal would coerce the
            # whole cumulative chain back to float and reopen the
            # order-sensitivity the decimal sums exist to close
            F.lit(0).cast("decimal(28,4)"),
        ).alias("off"),
    )
    local_w = W.partitionBy("pid").orderBy("rn")
    # total revenue from the per-range partial sums, NOT rev.agg(...):
    # rev is the full lineitem scan+aggregate, and a second aggregate
    # over it re-ran the whole fact scan (guide §2.4 — the plan audit
    # showed two lineitem scans). psums is n_ranges rows off the
    # checkpointed ranged frame, and DECIMAL addition is exact and
    # associative, so sum-of-partial-sums is bit-identical to the
    # direct total.
    tot = psums.agg(F.sum("pr").alias("tot"))
    classed = (
        ranged.join(F.broadcast(offs), "pid")
        .withColumn("cum_r", F.col("off") + F.sum("r").over(local_w))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "abc_class",
            F.when(F.col("cum_r") / F.col("tot") <= 0.8, "A")
            .when(F.col("cum_r") / F.col("tot") <= 0.95, "B")
            .otherwise("C"),
        )
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum("r"), 2).cast("double").alias("revenue"),
        F.round(
            F.sum("r").cast("double") / F.first("tot").cast("double"), 6
        ).alias("revenue_share"),
    )


_PRICE_INDEX_ORACLE = """
    WITH pm AS (
      SELECT l_partkey AS part_key,
             CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             sum(l_quantity) AS q,
             sum(l_extendedprice) / sum(l_quantity) AS p
      FROM lineitem
      GROUP BY 1, 2
    )
    SELECT b.month,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(b.p * a.q) / sum(a.p * a.q), 6) AS laspeyres,
           round(sum(b.p * b.q) / sum(a.p * b.q), 6) AS paasche
    FROM pm a
    JOIN pm b ON b.part_key = a.part_key
            AND b.month = a.month + INTERVAL 1 MONTH
    GROUP BY 1
    """


@query("q_price_index", oracle=_PRICE_INDEX_ORACLE)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month price indices: Laspeyres (current prices at
    BASE-month quantities) and Paasche (at current quantities) over
    parts present in both months — the index-number pair whose spread
    brackets "true" inflation (Laspeyres overstates, Paasche
    understates, substitution bias between them). The index-theory
    companion to q_revenue_bridge's additive decomposition.

    Scale: the fact reduces to the |parts|×|months| panel first; the
    consecutive-month self-join runs on the panel keyed by part
    (high-cardinality, no skew) and the index is one aggregate per
    month.
    """
    li = table(spark, sf_dir, "lineitem")
    pm = (
        li.groupBy(
            F.col("l_partkey").alias("part_key"),
            F.to_date(F.date_trunc("month", "l_shipdate")).alias("month"),
        )
        .agg(
            F.sum("l_quantity").alias("q"),
            (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
        )
        # the |parts|×|months| panel feeds BOTH self-join sides — the
        # lazy checkpoint stops the lineitem scan+aggregate running
        # twice (guide §2.4)
        .localCheckpoint(eager=False)
    )
    # distinct column names per side: a bare self-join on part_key
    # would lean on the analyzer's self-join disambiguation (and warn
    # "trivially true equals predicate") — rename instead
    a = pm.select(
        F.col("part_key").alias("part_a"),
        F.col("month").alias("base_month"),
        F.col("q").alias("q0"),
        F.col("p").alias("p0"),
    )
    b = pm.select(
        F.col("part_key").alias("part_b"),
        F.col("month").alias("month"),
        F.col("q").alias("q1"),
        F.col("p").alias("p1"),
    )
    return (
        a.join(
            b,
            (F.col("part_a") == F.col("part_b"))
            & (
                F.col("month")
                == F.add_months(F.col("base_month"), 1)
            ),
        )
        .groupBy("month")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(
                F.sum(F.col("p1") * F.col("q0"))
                / F.sum(F.col("p0") * F.col("q0")),
                6,
            ).alias("laspeyres"),
            F.round(
                F.sum(F.col("p1") * F.col("q1"))
                / F.sum(F.col("p0") * F.col("q1")),
                6,
            ).alias("paasche"),
        )
    )


_ORDER_GAP_ORACLE = """
    WITH g AS (
      SELECT o_custkey,
             CAST(date_diff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS DOUBLE) AS gap_days
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_repeat_customers,
           round(avg(gap_days), 4) AS mean_gap_days,
           round(quantile_cont(gap_days, 0.5), 4) AS median_gap_days,
           round(quantile_cont(gap_days, 0.9), 4) AS p90_gap_days
    FROM g WHERE gap_days IS NOT NULL
    """


@query("q_order_gap", oracle=_ORDER_GAP_ORACLE)
def q_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cycle: the distribution of days between a
    customer's consecutive orders (mean / median / p90) — the number
    replenishment reminders, churn definitions ("inactive = 2× median
    gap"), and CLV models are all calibrated against; the order-grain
    twin of q_interarrival's event gaps.

    Scale: one customer-keyed lag window, exact interpolated
    percentiles over the gap frame (one row per repeat order).
    """
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).cast("double").alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return g.agg(
        F.count("*").alias("n_gaps"),
        F.countDistinct("o_custkey").alias("n_repeat_customers"),
        F.round(F.avg("gap_days"), 4).alias("mean_gap_days"),
        F.round(F.percentile("gap_days", F.lit(0.5)), 4).alias(
            "median_gap_days"
        ),
        F.round(F.percentile("gap_days", F.lit(0.9)), 4).alias(
            "p90_gap_days"
        ),
    )


_DEAD_STOCK_ORACLE = """
    WITH sold AS (SELECT DISTINCT l_partkey FROM lineitem)
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CASE WHEN s.l_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unsold,
           round(sum(CASE WHEN s.l_partkey IS NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS dead_stock_share
    FROM part p LEFT JOIN sold s ON s.l_partkey = p.p_partkey
    GROUP BY 1
    """


@query("q_dead_stock", oracle=_DEAD_STOCK_ORACLE)
def q_dead_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-stock report: per brand, catalog parts with ZERO sales in
    the fact window — the anti-join every assortment review starts
    from (the inventory complement of q_abc_classification's revenue
    head). Expressed as a left join + null flag so the same pass
    yields both the count and the share.

    Scale: the sold-key set is a distinct pre-aggregate of the fact's
    join column only; the catalog side is the smaller dimension and
    the join is keyed by part (AQE sizes it — at real scale the
    distinct key set is far smaller than the fact and broadcasts).
    """
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    sold = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey")
        .distinct()
        .withColumn("sold", F.lit(1))
    )
    return (
        p.join(sold, p.p_partkey == sold.l_partkey, "left")
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(
                F.when(F.col("sold").isNull(), 1).otherwise(0)
            ).alias("n_unsold"),
            F.round(
                F.sum(F.when(F.col("sold").isNull(), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("dead_stock_share"),
        )
    )


_LOYALTY_ORACLE = """
    WITH cust_orders AS (
      SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1
      HAVING count(*) >= 2
    ),
    cb AS (
      SELECT o.o_custkey, p.p_brand,
             count(DISTINCT o.o_orderkey) AS n_brand_orders
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN cust_orders c ON c.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    per_cust AS (
      SELECT cb.o_custkey,
             max(cb.n_brand_orders) * 1.0 / max(c.n_orders) AS loyalty,
             count(*) AS n_brands
      FROM cb JOIN cust_orders c ON c.o_custkey = cb.o_custkey
      GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_repeat_customers,
           round(avg(loyalty), 6) AS mean_loyalty,
           round(sum(CASE WHEN loyalty >= 0.5 THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS loyal_share,
           round(avg(n_brands), 4) AS mean_brands_touched
    FROM per_cust
    """


@query("q_brand_loyalty", oracle=_LOYALTY_ORACLE)
def q_brand_loyalty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand loyalty among repeat customers: loyalty = the share of a
    customer's orders containing their most-ordered brand (1.0 = every
    order returns to one brand), summarized as the mean, the share of
    customers with loyalty ≥ ½, and the mean count of distinct brands
    touched — the CRM read on whether the basket affinity rules
    (q_association_rules) describe habit or exploration.

    Scale: per-(customer, brand) distinct-order counts off the star
    join (dims broadcast), a customer-keyed max-ratio fold, one
    summary row. Repeat customers only (singleton customers are
    trivially loyalty 1.0 and would wash the signal out).
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cust = (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )
    cb = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, "o_custkey")
        .groupBy("o_custkey", "p_brand")
        .agg(
            F.countDistinct("o_orderkey").alias("n_brand_orders"),
            F.first("n_orders").alias("n_orders"),
        )
    )
    per_cust = cb.groupBy("o_custkey").agg(
        (
            F.max("n_brand_orders") / F.max("n_orders").cast("double")
        ).alias("loyalty"),
        F.count("*").alias("n_brands"),
    )
    return per_cust.agg(
        F.count("*").alias("n_repeat_customers"),
        F.round(F.avg("loyalty"), 6).alias("mean_loyalty"),
        F.round(
            F.sum(F.when(F.col("loyalty") >= 0.5, 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("loyal_share"),
        F.round(F.avg(F.col("n_brands").cast("double")), 4).alias(
            "mean_brands_touched"
        ),
    )


_REPEAT_ORACLE = """
    WITH seq AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS k
      FROM orders
    ),
    firsts AS (SELECT o_custkey, d FROM seq WHERE k = 1),
    seconds AS (SELECT o_custkey, d FROM seq WHERE k = 2)
    SELECT CAST(count(f.o_custkey) AS BIGINT) AS n_customers,
           CAST(count(s.o_custkey) AS BIGINT) AS n_repeat,
           round(count(s.o_custkey) * 1.0 / count(f.o_custkey), 6)
             AS repeat_rate,
           round(quantile_cont(
             CAST(date_diff('day', f.d, s.d) AS DOUBLE), 0.5), 4)
             AS median_days_to_second
    FROM firsts f LEFT JOIN seconds s ON s.o_custkey = f.o_custkey
    """


@query("q_repeat_purchase", oracle=_REPEAT_ORACLE)
def q_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase panel: share of customers who ever place a
    second order, and the median days from first to second — the two
    numbers that anchor every retention budget (q_order_gap gives the
    steady-state cycle; this gives the make-or-break FIRST repeat).

    Scale: one customer-keyed row_number window; firsts/seconds are
    k-filters on it; the quantile runs over ≤ one row per repeat
    customer.
    """
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.row_number().over(w).alias("k"),
    )
    firsts = seq.filter(F.col("k") == 1).select(
        "o_custkey", F.col("d").alias("d1")
    )
    seconds = seq.filter(F.col("k") == 2).select(
        "o_custkey", F.col("d").alias("d2")
    )
    j = firsts.join(seconds, "o_custkey", "left")
    return j.agg(
        F.count("o_custkey").alias("n_customers"),
        F.count("d2").alias("n_repeat"),
        F.round(F.count("d2") / F.count("o_custkey"), 6).alias(
            "repeat_rate"
        ),
        F.round(
            F.percentile(
                F.datediff("d2", "d1").cast("double"), F.lit(0.5)
            ),
            4,
        ).alias("median_days_to_second"),
    )
