"""TPC-H-style analytical queries — the engine's declared analytics set.

The reference delegates all analytics to BigQuery (SURVEY.md §1, §3 entry
point 2); these queries are the engine's equivalent declared analytics
surface over the landed tables, phrased on the driver's TPC-H-ish
fixtures (TESTDATA.md). They exercise the full scan→join→agg→window
stack.

Scale notes per query are inline; the common posture:
- fixed dims (region, nation) broadcast always;
- selective filters sit directly on the scan (PushedFilters);
- aggregates are partial (map-side) by construction — groupBy on
  low-cardinality keys;
- AQE re-plans join sides at runtime at real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.operators.pinutil import pinned
from data_engineering_project_spotify_app_spark.operators.registry import query
from data_engineering_project_spotify_app_spark.tables import table


@query(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 4)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: 1 scan, 8 aggregates, 6 groups.

    Scale: the canonical map-side-combine query — partial aggregation
    reduces 100 TB of lineitem to 6 rows per task before the (tiny)
    shuffle. The shipdate filter is pushed to parquet.
    """
    l = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias(
                "sum_charge"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_tpch_q3",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: selective dim filter → fact join → top-10.

    Scale: customer filtered on mktsegment (~1/5) joins orders, result
    joins lineitem; AQE turns the filtered-customer side into a broadcast
    at real scale. Top-10 via TakeOrderedAndProject (no global sort).
    Tie-break on l_orderkey after rounding keeps cross-engine order stable.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
        .join(
            l.filter(
                F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q5",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: the 6-table join.

    Scale: region→nation→supplier reduce to a small broadcast side
    (region/nation are fixed-size → F.broadcast hint); the
    customer-nation = supplier-nation condition rides on the same join.
    Only the orders⋈lineitem join shuffles big data.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")

    asia_nations = (
        n.join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    return (
        c.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q_tpch_q6",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast revenue: pure scan-filter-aggregate.

    Scale: every predicate pushes to the parquet reader (row-group
    min/max pruning on l_shipdate); zero shuffle beyond the final
    single-row reduce.
    """
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


# The fixture tables (TESTDATA.md) omit partsupp, l_commitdate/l_receiptdate,
# l_shipmode, p_container and c_phone, so the remaining TPC-H queries below are
# *adapted* to the available columns while keeping each query's defining plan
# shape (the thing the optimizer must get right): Q4 = EXISTS decorrelation,
# Q10 = fact-dim agg with top-k, Q13 = outer-join distribution with an
# ON-clause predicate, Q14 = conditional aggregate ratio, Q15 = scalar-subquery
# max against a derived view, Q17 = correlated per-key average, Q18 = HAVING
# semi-join back to facts, Q19 = OR-of-ANDs across join sides, Q22 = anti-join
# with a global scalar threshold.


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority checking (EXISTS adapted to l_returnflag).

    Scale: the correlated EXISTS lowers to a left-semi join — lineitem is
    pre-filtered and projected to the join key only before the shuffle,
    so the semi side carries one bigint column. Catalyst's
    RewritePredicateSubquery does the same for the SQL phrasing.
    """
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    returned = l.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q_tpch_q10",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting: who returned the most revenue.

    Scale: one quarter of orders (pushed filter) drives the fact join;
    nation is a 25-row broadcast; top-20 runs as TakeOrderedAndProject —
    each task keeps 20 rows, no global sort materializes.

    The revenue sum runs in DECIMAL on both engines: double summation
    order differs across engines in the last ulp, and a per-customer sum
    here landed exactly on a round-half boundary at sf0.01 (…3.595 →
    3.59 vs 3.6). Decimal aggregation is order-independent, so the
    rounded result is bit-identical.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            l.filter(F.col("l_returnflag") == "R"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (1 - F.col("l_discount").cast("decimal(18,4)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution (filter in the ON clause).

    Scale: the priority predicate must stay in the join condition (not a
    WHERE, which would turn the outer join inner and drop 0-order
    customers); count(o_orderkey) counts only matched rows. Two cascading
    aggregations — the second groups on ~tens of distinct counts, so the
    final shuffle is trivial.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o.filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q_tpch_q14",
    oracle="""
    SELECT round(
             100.00 * sum(CASE WHEN p.p_type = 'PROMO'
                               THEN l.l_extendedprice * (1 - l.l_discount)
                               ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion effect: conditional-aggregate revenue share.

    Scale: one month of lineitem (pushed) joins part on the part key —
    part is the small side and broadcast; both sums fold into one partial
    aggregate, single-row result, no second shuffle.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0)
                )
                / F.sum(disc_price),
                4,
            ).alias("promo_revenue")
        )
    )


@query(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: scalar-subquery max over a derived view.

    Scale: the revenue view is computed once and reused for both the max
    and the equality filter (localCheckpoint would be overkill here — the
    agg output is tiny, ~#suppliers rows, and Spark broadcasts the 1-row
    max side). Revenue is rounded BEFORE the max comparison so tie
    semantics are bit-identical across engines.
    """
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    revenue = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        s.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(
            F.broadcast(max_rev),
            F.col("total_revenue") == F.col("max_revenue"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q_tpch_q17",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_type = 'MEDIUM'
      AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity revenue (correlated per-part average).

    Scale: the correlated scalar subquery is written as its decorrelated
    form — a per-partkey average aggregated once, then joined — which is
    exactly the plan Catalyst produces for the SQL phrasing. The
    brand/type filter reduces part to ~1/18 before the broadcast join,
    and the avg aggregates only lineitems of those parts (semi-join
    pushdown through the avg, done explicitly here).
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    wanted = p.filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM")
    ).select("p_partkey")
    # Only lineitems of wanted parts matter for both the sum AND the avg
    # (the correlation key is the part key), so filter once, up front.
    li = l.join(F.broadcast(wanted), F.col("l_partkey") == F.col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.5 * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(thresholds), F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q_tpch_q18",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           round(sum(l.l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: HAVING subquery semi-joined back.

    Scale: the IN-subquery is a groupBy→filter producing few keys, joined
    left-semi into orders BEFORE the customer/lineitem joins — the
    selective reduction happens first, so downstream joins move only
    qualifying orders. Top-20 with deterministic tie-break.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    big_orders = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        o.join(
            F.broadcast(big_orders),
            F.col("o_orderkey") == F.col("big_orderkey"),
            "left_semi",
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q_tpch_q19",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted revenue: OR-of-ANDs spanning both join sides.

    Scale: the disjunction mixes part-side and lineitem-side columns, so
    it can only be applied post-join — but Catalyst factors the
    single-side implications out (l_quantity <= 30, p_brand IN (...)) and
    pushes those to the scans, shrinking both inputs before the broadcast
    join. Phrased identically on both engines so the planner does the
    factoring, not us.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q_tpch_q22",
    oracle="""
    SELECT c.c_nationkey, count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c.c_nationkey IN (1, 3, 5, 7, 9)
      AND c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_acctbal > 0.0
                           AND c2.c_nationkey IN (1, 3, 5, 7, 9))
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global-sales opportunity (phone prefix → nation keys).

    Scale: the scalar average broadcasts as a 1-row cross join; the NOT
    EXISTS lowers to a left-anti join against urgent orders projected to
    the customer key. Customer is scanned twice (threshold + candidates)
    but both scans prune to two columns.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    nations = [1, 3, 5, 7, 9]
    threshold = (
        c.filter((F.col("c_acctbal") > 0.0) & F.col("c_nationkey").isin(nations))
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        c.filter(F.col("c_nationkey").isin(nations))
        .join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "q_tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                             AND TIMESTAMP '1997-12-31'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: bidirectional nation-pair trade by year.

    Scale: the nation-pair disjunction filters AFTER both nation
    broadcasts attach (each is a 25-row broadcast); the big
    lineitem⋈orders join carries only a year and a volume column by the
    time it shuffles. The OR of two symmetric pairs cannot push to
    either scan alone — it prunes on the joined pair, the shape Q7
    exists to test.
    """
    s = table(spark, sf_dir, "supplier")
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        l.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1997-12-31").cast("timestamp"),
            )
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q_tpch_q8",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                              AND TIMESTAMP '1997-12-31'
        AND p.p_type = 'ECONOMY'
    )
    GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: one nation's slice of regional
    trade in a part segment.

    Scale: part filtered on p_type (~1/6) broadcasts into lineitem —
    the most selective reduction runs first; the share is a conditional
    aggregate over the same volume column (one pass, no self-join).
    """
    p = table(spark, sf_dir, "part")
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    asia_nations = n.join(
        F.broadcast(r.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("cust_nkey"))
    supp_nation = n.select(
        F.col("n_nationkey").alias("supp_nkey"), F.col("n_name").alias("nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(
            F.broadcast(p.filter(F.col("p_type") == "ECONOMY")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            o.filter(
                F.col("o_orderdate").between(
                    F.lit("1996-01-01").cast("timestamp"),
                    F.lit("1997-12-31").cast("timestamp"),
                )
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cust_nkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("supp_nkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", volume).otherwise(0.0))
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "q_tpch_q9",
    oracle="""
    SELECT nation, o_year, round(sum(volume), 2) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit (adapted: no partsupp in the
    fixtures, so profit = discounted revenue rather than revenue minus
    supply cost — the join/agg shape is unchanged).

    Scale: the LIKE filter on part prunes before broadcast; every
    remaining join key is a bigint; grouping is (25 nations × ~7 years)
    so the final shuffle moves a few hundred rows per task.
    """
    p = table(spark, sf_dir, "part")
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    return (
        l.join(
            F.broadcast(p.filter(F.col("p_name").like("%red%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_profit")
        )
    )


@query(
    "q_tpch_q16",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_acctbal < 0
                        AND s.s_suppkey = l.l_suppkey)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 supplier-count by part description (adapted: the
    partsupp relation is derived from lineitem's part-supplier pairs;
    the complaints exclusion keys on negative account balance).

    Exactness: the oracle is phrased NOT EXISTS (null-safe), which is
    what a left-anti join implements exactly — NOT IN would diverge
    under three-valued logic if the subquery ever produced a NULL key.

    Scale: the exclusion lowers to a left-anti join against a tiny
    (filtered supplier) broadcast; distinct-count is two-phase — Spark
    plans it as a partial distinct on (group, suppkey) before the
    count, so the shuffle dedups early.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    bad_suppliers = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        l.join(
            F.broadcast(
                p.filter(
                    (F.col("p_brand") != "Brand#45")
                    & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(bad_suppliers),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --- partsupp-family queries (Q2/Q11/Q20/Q21) --------------------------------
#
# The driver fixtures carry no partsupp table and no commit/receipt
# dates (SURVEY.md §8). Both are DERIVED deterministically, with the
# identical arithmetic on the Spark and DuckDB sides, so the four
# remaining TPC-H shapes run as real oracle-checked queries:
#
# - partsupp := the distinct (l_partkey, l_suppkey) pairs observed in
#   lineitem (the supplier catalog implied by the fact table), with
#   ps_availqty / ps_supplycost computed from the keys. ps_supplycost
#   uses a /128 denominator — a dyadic rational, so every product and
#   sum below is EXACT in double and cross-engine hash-stable by
#   construction (no rounding-order hazards).
# - l_receiptdate / l_commitdate := l_shipdate plus key-derived lags
#   (see _LINEITEM_EXT_SQL), giving Q21 its "late" semantics.

PARTSUPP_SQL = """partsupp AS (
      SELECT ps_partkey, ps_suppkey,
             (ps_partkey * 7 + ps_suppkey * 3) % 9999 + 1 AS ps_availqty,
             CAST((ps_partkey * 13 + ps_suppkey * 5) % 1000 AS DOUBLE)
               / 128.0 + 1.0 AS ps_supplycost
      FROM (SELECT DISTINCT l_partkey AS ps_partkey,
                            l_suppkey AS ps_suppkey FROM lineitem)
    )"""


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partsupp relation derived from lineitem (see PARTSUPP_SQL).

    Scale: one map-side-combined distinct over two pushed-down columns;
    everything downstream treats the result as a normal dimension.
    """
    l = table(spark, sf_dir, "lineitem")
    pairs = l.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        (
            (F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 3) % 9999 + 1
        ).alias("ps_availqty"),
        (
            ((F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 5) % 1000)
            .cast("double")
            / 128.0
            + 1.0
        ).alias("ps_supplycost"),
    )


@query(
    "q_tpch_q2",
    oracle=f"""
    WITH {PARTSUPP_SQL}
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand
    FROM part p, partsupp ps, supplier s, nation n, region r
    WHERE p.p_partkey = ps.ps_partkey
      AND s.s_suppkey = ps.ps_suppkey
      AND p.p_size = 15 AND p.p_type = 'PROMO'
      AND s.s_nationkey = n.n_nationkey
      AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'EUROPE'
      AND ps.ps_supplycost = (
        SELECT min(ps2.ps_supplycost)
        FROM partsupp ps2, supplier s2, nation n2, region r2
        WHERE ps2.ps_partkey = p.p_partkey
          AND s2.s_suppkey = ps2.ps_suppkey
          AND s2.s_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r2.r_regionkey
          AND r2.r_name = 'EUROPE')
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier (adapted: derived partsupp,
    p_brand for the missing p_mfgr; reference shape cf. TPC-H §2.4.2).

    The correlated min-cost subquery is decorrelated into a window min
    over each part's European suppliers — computed AFTER the part
    filter cuts the frame, so the window sees only qualifying parts.

    Scale: region→nation→supplier collapses to a broadcast; the
    window partitions by part key (same shuffle key the partsupp join
    already produced). Exact cost ties are kept, as in the spec.
    """
    from pyspark.sql.window import Window

    ps = derived_partsupp(spark, sf_dir)
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "PROMO")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = s.join(
        F.broadcast(
            n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    eu_ps = (
        ps.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu_supp), F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eu_ps.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "q_tpch_q11",
    oracle=f"""
    WITH {PARTSUPP_SQL}
    SELECT ps.ps_partkey,
           round(sum(ps.ps_supplycost * ps.ps_availqty), 2) AS value
    FROM partsupp ps, supplier s, nation n
    WHERE ps.ps_suppkey = s.s_suppkey
      AND s.s_nationkey = n.n_nationkey
      AND n.n_name = 'NATION_7'
    GROUP BY ps.ps_partkey
    HAVING sum(ps.ps_supplycost * ps.ps_availqty) > (
      SELECT 2.0 * sum(ps2.ps_supplycost * ps2.ps_availqty)
                 / count(DISTINCT ps2.ps_partkey)
      FROM partsupp ps2, supplier s2, nation n2
      WHERE ps2.ps_suppkey = s2.s_suppkey
        AND s2.s_nationkey = n2.n_nationkey
        AND n2.n_name = 'NATION_7')
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock identification (derived partsupp).

    TPC-H's FRACTION is 0.0001/SF — scale-dependent by design; here
    the threshold is the scale-free equivalent, 2× the average group
    value, so the query returns a stable "important" slice at every SF.

    The global threshold is computed from the PER-GROUP sums (sum of
    group sums == grand total — EXACT here because ps_supplycost is a
    dyadic rational, so no float-order divergence; both engines then
    evaluate the same single division), which both avoids a second
    partsupp derivation pass and lets Spark reuse the grouped
    aggregate for the threshold via a 1-row broadcast.

    Scale: one shuffle on ps_partkey for the group sums; the threshold
    is a scalar crossJoin-broadcast, never a second scan.
    """
    ps = derived_partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nat_supp = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    # Consumed twice (threshold aggregate + the final filter); column
    # pruning specializes each branch, so Catalyst did NOT reuse the
    # exchange and the partsupp derivation + join + groupBy ran twice
    # (before-plan: 12 scans). |parts|-sized — pin it (guide §2.4).
    grouped = (
        ps.join(F.broadcast(nat_supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(F.col("ps_supplycost") * F.col("ps_availqty")).alias("v")
        )
    )
    grouped = pinned(grouped)
    threshold = grouped.agg(
        (F.lit(2.0) * F.sum("v") / F.count("*")).alias("thr")
    )
    return (
        grouped.crossJoin(F.broadcast(threshold))
        .filter(F.col("v") > F.col("thr"))
        .select("ps_partkey", F.round(F.col("v"), 2).alias("value"))
    )


@query(
    "q_tpch_q20",
    oracle=f"""
    WITH {PARTSUPP_SQL}
    SELECT s.s_name
    FROM supplier s, nation n
    WHERE s.s_nationkey = n.n_nationkey
      AND n.n_name = 'NATION_3'
      AND s.s_suppkey IN (
        SELECT ps.ps_suppkey
        FROM partsupp ps
        WHERE ps.ps_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND ps.ps_availqty > 0.5 * (
            SELECT sum(l.l_quantity)
            FROM lineitem l
            WHERE l.l_partkey = ps.ps_partkey
              AND l.l_suppkey = ps.ps_suppkey
              AND l.l_shipdate >= TIMESTAMP '1995-01-01'
              AND l.l_shipdate <  TIMESTAMP '1996-01-01'))
    ORDER BY s.s_name
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 excess-stock suppliers (derived partsupp).

    Nested IN + correlated scalar subquery, decorrelated Spark-first:
    the per-(part, supplier) 1995 shipment total is one grouped
    aggregate joined back on the pair key — the scalar subquery's
    empty-result-is-NULL semantics (row dropped) is exactly the inner
    join. The red-part filter and the final supplier membership are
    broadcast semi-joins.

    Scale: lineitem is touched once with a pushed-down year filter;
    every other input is dimension-sized.
    """
    ps = derived_partsupp(spark, sf_dir)
    red = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    shipped = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty_1995"))
    )
    excess_supp = (
        ps.join(F.broadcast(red), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty_1995"))
        .select("ps_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            excess_supp,
            F.col("s_suppkey") == F.col("ps_suppkey"),
            "left_semi",
        )
        .select("s_name")
        .orderBy("s_name")
    )


_LINEITEM_EXT_SQL = """lineitem_ext AS (
      SELECT l_orderkey, l_suppkey,
             l_shipdate + ((l_orderkey * 3 + l_linenumber * 7) % 30 + 1)
               * INTERVAL 1 DAY AS l_receiptdate,
             l_shipdate + ((l_orderkey * 5 + l_linenumber * 11) % 45)
               * INTERVAL 1 DAY AS l_commitdate
      FROM lineitem
    )"""


@query(
    "q_tpch_q21",
    oracle=f"""
    WITH {_LINEITEM_EXT_SQL}
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s, lineitem_ext l1, orders o, nation n
    WHERE s.s_suppkey = l1.l_suppkey
      AND o.o_orderkey = l1.l_orderkey
      AND o.o_orderstatus = 'F'
      AND l1.l_receiptdate > l1.l_commitdate
      AND EXISTS (SELECT 1 FROM lineitem_ext l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem_ext l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_receiptdate > l3.l_commitdate)
      AND s.s_nationkey = n.n_nationkey
      AND n.n_name = 'NATION_5'
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 suppliers who kept orders waiting (commit/receipt
    dates derived from the shipdate + key-based lags, identically on
    both engines — see _LINEITEM_EXT_SQL).

    The EXISTS / NOT EXISTS pair is rewritten set-wise: per order,
    count the distinct suppliers and the distinct LATE suppliers with
    two collect_set windows over the same partition key; a late line
    qualifies iff the order has >1 supplier and exactly one late one
    (which is then necessarily this line's). One lineitem scan, ONE
    shuffle on l_orderkey — no correlated re-scans, no join-back.
    """
    from pyspark.sql.window import Window

    l = table(spark, sf_dir, "lineitem")
    ext = l.select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "timestampadd(DAY, CAST((l_orderkey * 3 + l_linenumber * 7) "
            "% 30 + 1 AS INT), l_shipdate)"
        ).alias("l_receiptdate"),
        F.expr(
            "timestampadd(DAY, CAST((l_orderkey * 5 + l_linenumber * 11) "
            "% 45 AS INT), l_shipdate)"
        ).alias("l_commitdate"),
    )
    late = F.col("l_receiptdate") > F.col("l_commitdate")
    w = Window.partitionBy("l_orderkey")
    flagged = ext.select(
        "l_orderkey",
        "l_suppkey",
        late.alias("is_late"),
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(
            F.collect_set(F.when(late, F.col("l_suppkey"))).over(w)
        ).alias("n_late"),
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    nat_supp = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    return (
        flagged.filter(
            F.col("is_late") & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@query(
    "q_tpch_q12",
    oracle=f"""
    WITH lineitem_ext AS (
      SELECT l_orderkey, l_returnflag, l_shipdate,
             l_shipdate + ((l_orderkey * 3 + l_linenumber * 7) % 30 + 1)
               * INTERVAL 1 DAY AS l_receiptdate,
             l_shipdate + ((l_orderkey * 5 + l_linenumber * 11) % 45)
               * INTERVAL 1 DAY AS l_commitdate
      FROM lineitem
    )
    SELECT l.l_returnflag AS shipgroup,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem_ext l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag IN ('A', 'R')
      AND l.l_commitdate < l.l_receiptdate
      AND l.l_shipdate < l.l_commitdate
      AND l.l_receiptdate >= TIMESTAMP '1996-01-01'
      AND l.l_receiptdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shipping-mode priority counts (adapted: the fixture
    has no l_shipmode, so l_returnflag plays the mode column; commit/
    receipt dates derived as in q_tpch_q21 — see _LINEITEM_EXT_SQL).

    The classic conditional-aggregation pattern: two CASE sums in one
    pass, no second scan or self-join per priority class.

    Scale: the date filters sit on derived columns, but l_shipdate
    bounds them — receipt ≤ ship+30d, commit ≤ ship+44d — so a real
    deployment adds the implied l_shipdate range to the scan filter;
    here the join is the only shuffle and orders broadcasts at
    dimension scale.
    """
    l = table(spark, sf_dir, "lineitem")
    ext = l.select(
        "l_orderkey",
        "l_returnflag",
        "l_shipdate",
        F.expr(
            "timestampadd(DAY, CAST((l_orderkey * 3 + l_linenumber * 7) "
            "% 30 + 1 AS INT), l_shipdate)"
        ).alias("l_receiptdate"),
        F.expr(
            "timestampadd(DAY, CAST((l_orderkey * 5 + l_linenumber * 11) "
            "% 45 AS INT), l_shipdate)"
        ).alias("l_commitdate"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        ext.filter(
            F.col("l_returnflag").isin("A", "R")
            & (F.col("l_commitdate") < F.col("l_receiptdate"))
            & (F.col("l_shipdate") < F.col("l_commitdate"))
            & (F.col("l_receiptdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_receiptdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_returnflag").alias("shipgroup"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("shipgroup")
    )
