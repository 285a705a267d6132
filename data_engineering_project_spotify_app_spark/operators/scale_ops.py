"""Scale-technique operators: join and layout patterns that only matter
when the data is big.

Two patterns a 100 TB deployment leans on constantly, each expressed so
the *technique itself* is the operator under test:

- banded interval join: a |t1 - t2| <= W range join rewritten as an
  equi-join on time buckets. Spark plans a raw theta join as
  BroadcastNestedLoopJoin — O(N·M) and a driver OOM on big inputs; the
  bucket trick turns it into a shuffle hash join with a 3× candidate
  expansion bound, the standard rewrite until range-join hints exist.
- Z-order layout: interleave the bits of two clustering dimensions into
  one sort key so a single file/row-group ordering serves range pruning
  on BOTH columns (the Delta/Iceberg OPTIMIZE ZORDER layout, computed
  here with plain bit arithmetic so the oracle can verify it exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spotify_app_spark.operators.registry import query
from data_engineering_project_spotify_app_spark.tables import table

BAND_SECONDS = 300  # interval half-width: errors within ±5 min of a click
Z_BITS = 16  # bits kept per dimension in the z-value


@query(
    "q_interval_join",
    oracle=f"""
    SELECT c.event_id, count(e.event_id) AS n_nearby_errors
    FROM events c
    JOIN events e
      ON e.event_type = 'error'
     AND abs(epoch(c.ts) - epoch(e.ts)) <= {BAND_SECONDS}
    WHERE c.event_type = 'click'
    GROUP BY c.event_id
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors within ±5 minutes of each click: a banded interval join.

    Each side is bucketed by floor(epoch / W); a pair within W seconds
    is always within one bucket of each other, so errors are exploded to
    their bucket ± 1 (3 rows each) and the join becomes a plain
    equi-join on the bucket key, followed by the exact band predicate.

    Scale: the naive theta join is BroadcastNestedLoopJoin (every click
    × every error); the bucketed form shuffles both sides on the bucket
    key — candidate pairs are bounded by bucket co-residents, and a hot
    bucket is AQE-splittable like any skewed hash join. The 3× explode
    on the (much smaller) error side is the entire overhead.
    """
    ev = table(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    # F.floor, not cast('bigint'): truncation != floor for negative epoch
    # seconds (pre-1970 ts), which would put near-boundary pairs in
    # non-adjacent buckets and miss them vs the exact abs() predicate.
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        sec.alias("c_sec"),
        F.floor(sec / BAND_SECONDS).cast("bigint").alias("b"),
    )
    e_bucket = F.floor(F.col("e_sec") / BAND_SECONDS).cast("bigint")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(sec.alias("e_sec"))
        .select(
            "e_sec",
            F.explode(
                F.array(e_bucket - 1, e_bucket, e_bucket + 1)
            ).alias("b"),
        )
    )
    return (
        clicks.join(errors, "b")
        .filter(F.abs(F.col("c_sec") - F.col("e_sec")) <= BAND_SECONDS)
        .groupBy("event_id")
        .agg(F.count("*").alias("n_nearby_errors"))
    )


def _interleave_terms(xcol: str, ycol: str) -> str:
    """SQL for the bit-interleaved z-value — identical text on both
    engines (pure BIGINT shifts/masks)."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


# Both dimensions are normalized to the full Z_BITS range BEFORE
# interleaving (rank/min-max scaling, exactly what Delta's OPTIMIZE
# ZORDER does with range ids): interleaving raw values is broken
# whenever the dimensions occupy different bit-widths — the wider
# dimension's high bits dominate every comparison and the curve
# degenerates to a single-column sort. Integer floor arithmetic keeps
# both engines bit-identical.
_ZMAX = (1 << Z_BITS) - 1
_ZVAL = _interleave_terms("cn", "dn")

_ZORDER_ORACLE = f"""
    WITH keyed AS (
      SELECT o_orderkey, o_custkey,
             CAST(epoch(o_orderdate) / 86400 AS BIGINT) AS day
      FROM orders
    ),
    stats AS (
      SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax,
             min(day) AS dmin, max(day) AS dmax
      FROM keyed
    ),
    norm AS (
      SELECT o_custkey, day,
             CAST(floor((o_custkey - cmin) * {_ZMAX} * 1.0
                        / greatest(cmax - cmin, 1)) AS BIGINT) AS cn,
             CAST(floor((day - dmin) * {_ZMAX} * 1.0
                        / greatest(dmax - dmin, 1)) AS BIGINT) AS dn
      FROM keyed CROSS JOIN stats
    ),
    z AS (
      SELECT o_custkey, day, ({_ZVAL}) AS zval FROM norm
    )
    SELECT CAST(zval >> {2 * Z_BITS - 4} AS BIGINT) AS zbucket,
           count(*) AS n_rows,
           min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           min(day) AS min_day, max(day) AS max_day
    FROM z
    GROUP BY 1
    """


@query("q_zorder_layout", oracle=_ZORDER_ORACLE)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering stats for orders on (o_custkey, order day).

    Computes the min-max-normalized, bit-interleaved z-value and
    reports, per z-bucket (top 4 bits — the file/row-group unit a
    writer would sort into), the min/max of BOTH dimensions — exactly
    the column statistics parquet footers carry. Tight per-bucket
    ranges on both columns simultaneously are what let a z-ordered
    layout prune scans for predicates on either column; the test
    asserts that property against single-column sorts.

    Scale: stats is a 1-row broadcast (a layout job computes it in the
    same pass that sizes files); the z-value is pure JVM bit arithmetic
    (codegen); the writer path is ``df.repartitionByRange(N, "zval")
    .sortWithinPartitions("zval").write...`` — one range shuffle, no
    skew (normalized z-values spread uniformly when either dimension
    does).
    """
    o = table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_custkey",
        (F.col("o_orderdate").cast("timestamp").cast("double") / 86400)
        .cast("bigint")
        .alias("day"),
    )
    stats = keyed.agg(
        F.min("o_custkey").alias("cmin"),
        F.max("o_custkey").alias("cmax"),
        F.min("day").alias("dmin"),
        F.max("day").alias("dmax"),
    )
    norm = keyed.crossJoin(F.broadcast(stats)).select(
        "o_custkey",
        "day",
        F.floor(
            (F.col("o_custkey") - F.col("cmin"))
            * _ZMAX
            / F.greatest(F.col("cmax") - F.col("cmin"), F.lit(1))
        ).alias("cn"),
        F.floor(
            (F.col("day") - F.col("dmin"))
            * _ZMAX
            / F.greatest(F.col("dmax") - F.col("dmin"), F.lit(1))
        ).alias("dn"),
    )
    z = norm.select("o_custkey", "day", F.expr(_ZVAL).alias("zval"))
    return (
        z.groupBy(
            F.expr(f"zval >> {2 * Z_BITS - 4}").cast("bigint").alias("zbucket")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
    )


@query(
    "q_skyline",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice, p_size
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts: cheapest-for-their-size —
    no other part is both no-more-expensive and no-smaller (strictly
    better in at least one).

    The oracle is the defining NOT EXISTS — an O(N²) self-anti-join.
    The engine form exploits the 2-D structure instead: per price, only
    the max-size rows can survive; across prices sorted ascending, a
    row survives iff its size exceeds the running max size of all
    strictly cheaper prices. One distinct-price aggregate + an exclusive
    prefix max over the price order — O(N log N), no pairwise stage.

    Scale: the price-level table is #distinct-prices rows — bounded at
    TPC-H shapes but UNBOUNDED in general, so the running max is the
    two-phase range-partitioned form (rankutil.two_phase_prefix_max):
    per-range local prefix windows partitioned by pid plus one tiny
    carry-in window over the n_ranges-row per-range maxes — never a
    single-partition window over the price-level rows (plan-pinned in
    tests/test_plans.py). Candidates join back by price (broadcast).
    For d > 2 dimensions the sort trick dies — there you partition,
    take per-block skylines (skyline is distributive over any
    partition), and finish on the reduced union.
    """
    from data_engineering_project_spotify_app_spark.operators.rankutil import (
        two_phase_prefix_max,
    )

    p = table(spark, sf_dir, "part")
    per_price = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("max_size")
    )
    frontier = two_phase_prefix_max(
        per_price,
        [F.col("price")],
        "max_size",
        n_ranges=8,
        out_col="cheaper_max",
    ).filter(
        F.col("cheaper_max").isNull()
        | (F.col("max_size") > F.col("cheaper_max"))
    )
    return (
        p.join(
            F.broadcast(frontier),
            (F.col("p_retailprice") == F.col("price"))
            & (F.col("p_size") == F.col("max_size")),
        )
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
    )


@query(
    "q_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    marked AS (
      SELECT *, CASE WHEN prev_type IS NULL
                       OR prev_type <> event_type THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    islands AS (
      SELECT user_id, event_id, event_type, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS island_id
      FROM marked
    ),
    runs AS (
      SELECT user_id, island_id,
             min(event_type)  AS state,
             min(ts)          AS valid_from,
             count(*)         AS n_events
      FROM islands
      GROUP BY user_id, island_id
    )
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY island_id)
             AS valid_to,
           CAST(lead(valid_from) OVER (PARTITION BY user_id
                                       ORDER BY island_id) IS NULL
                AS BOOLEAN) AS is_current,
           n_events
    FROM runs
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) intervals from an event log —
    the gaps-and-islands pattern every warehouse ingest needs: collapse
    each user's consecutive run of the same state into one row with
    [valid_from, valid_to) validity and an is_current flag on the open
    interval.

    Change detection is lag() per user; runs become islands via the
    running sum of change marks; lead() closes each interval with the
    next run's start. Ties on ts break by event_id so run boundaries
    are deterministic cross-engine.

    Scale: everything partitions by user_id — ONE shuffle reused by
    both window passes and the group-by (Spark keeps the child
    partitioning); no self-join against the "next row", which is the
    O(N²)-prone textbook alternative.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.col("ts").alias("ts")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    islands = marked.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island_id"),
    )
    runs = islands.groupBy("user_id", "island_id").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("island_id")
    return runs.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
        "n_events",
    )


# --- Bloom-filter semi-join pruning -----------------------------------
# 62-bit words: DuckDB's BIGINT << raises on a 1 << 63 overflow, so the
# portable word layout never shifts past bit 61.
BLOOM_WORD_BITS = 62
BLOOM_WORDS = 32
BLOOM_NBITS = BLOOM_WORD_BITS * BLOOM_WORDS  # 1984
BLOOM_K = 3  # hash functions = three 8-hex slices of one md5
BLOOM_ACCTBAL = 9000.0  # "high-value customer" build-side predicate


def _bloom_bits_sql(key_expr: str) -> list[str]:
    """K bit positions for a key — three disjoint 8-hex md5 slices via
    the portable instr/substr hex→int arithmetic (dedup._hex2int_sql),
    identical text in Spark SQL and DuckDB."""
    from data_engineering_project_spotify_app_spark.operators.dedup import (
        _hex2int_sql,
    )

    return [
        f"({_hex2int_sql(f'md5(CAST({key_expr} AS VARCHAR))', start)}"
        f" % {BLOOM_NBITS})"
        for start in (1, 9, 17)
    ]


@query(
    "q_bloom_prune",
    oracle=f"""
    WITH hv AS (
      SELECT c_custkey AS key FROM customer WHERE c_acctbal > {BLOOM_ACCTBAL}
    ),
    kb AS (
      {" UNION ALL ".join(f"SELECT key, {b} AS bit FROM hv" for b in _bloom_bits_sql("key"))}
    ),
    bloom AS (
      SELECT bit // {BLOOM_WORD_BITS} AS w,
             bit_or(CAST(1 AS BIGINT) << (bit % {BLOOM_WORD_BITS})) AS bits
      FROM kb GROUP BY 1
    ),
    pb AS (
      {" UNION ALL ".join(f"SELECT o_orderkey, o_custkey, {b} AS bit FROM orders" for b in _bloom_bits_sql("o_custkey"))}
    ),
    probe AS (
      SELECT pb.o_orderkey, pb.o_custkey,
             min(CASE WHEN bloom.bits IS NOT NULL
                       AND (bloom.bits & (CAST(1 AS BIGINT)
                                          << (pb.bit % {BLOOM_WORD_BITS})))
                           = (CAST(1 AS BIGINT)
                              << (pb.bit % {BLOOM_WORD_BITS}))
                      THEN 1 ELSE 0 END) AS pass
      FROM pb
      LEFT JOIN bloom ON bloom.w = pb.bit // {BLOOM_WORD_BITS}
      GROUP BY 1, 2
    ),
    classed AS (
      SELECT CASE WHEN probe.pass = 0 AND hv.key IS NULL THEN 'pruned'
                  WHEN probe.pass = 1 AND hv.key IS NOT NULL THEN 'hit'
                  WHEN probe.pass = 1 THEN 'false_positive'
                  ELSE 'missed' END AS outcome
      FROM probe LEFT JOIN hv ON hv.key = probe.o_custkey
    )
    SELECT outcome, CAST(count(*) AS BIGINT) AS n_orders
    FROM classed GROUP BY outcome
    """,
)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning with EXACT false-positive
    accounting: build a {BLOOM_NBITS}-bit / {BLOOM_K}-hash Bloom filter
    over high-value customer keys, probe every order's custkey against
    it, and classify each order as pruned / hit / false_positive (a
    'missed' class exists to prove the no-false-negative invariant —
    it must always count zero, pinned in tests).

    The technique is how a 100 TB join avoids shuffling the fact side:
    the filter is a few KB of bit_or-aggregated words, broadcast to
    every probe task, and only bloom-passing rows continue to the real
    join. Because the bit positions are md5-derived (the portable
    hex→int arithmetic of the MinHash family), the filter contents —
    and therefore the exact set of false positives — are deterministic
    and identical in both engines, so the oracle hash-checks the
    pruning decision itself, not just its effect.

    Plan: build side is one hash aggregate over ≤ {BLOOM_K}·|keys|
    rows into ≤ {BLOOM_WORDS} words (broadcast); probe side explodes
    each order into {BLOOM_K} (word, mask) probes, joins the broadcast
    words, and min-folds back to one verdict per order — no shuffle of
    the orders table beyond the per-order fold.
    """
    word = F.expr(f"bit div {BLOOM_WORD_BITS}")
    mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), bit % {BLOOM_WORD_BITS})")

    hv = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > BLOOM_ACCTBAL)
        .select(F.col("c_custkey").alias("key"))
    )
    kb = hv.select(
        F.explode(
            F.array(
                *[
                    F.expr(b.replace("VARCHAR", "STRING"))
                    for b in _bloom_bits_sql("key")
                ]
            )
        ).alias("bit")
    )
    bloom = kb.select(word.alias("w"), mask.alias("m")).groupBy("w").agg(
        F.bit_or("m").alias("bits")
    )

    # The whole filter is ≤ BLOOM_WORDS longs: pack it into ONE map row
    # and broadcast-crossJoin it, so the probe is three pure scalar
    # expressions per order — no explode, no per-order re-aggregation,
    # no join fold (measured 2.9 s → sub-second at sf0.1). This is
    # exactly how a real bloom-pruned join ships the filter: a few KB
    # of words to every probe task.
    bloom_map = bloom.agg(
        F.map_from_entries(
            F.collect_list(F.struct("w", "bits"))
        ).alias("bm")
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    hits = []
    for b in _bloom_bits_sql("o_custkey"):
        bexpr = b.replace("VARCHAR", "STRING")
        hits.append(
            F.expr(
                f"(coalesce(element_at(bm, {bexpr} div {BLOOM_WORD_BITS}), "
                f"CAST(0 AS BIGINT)) "
                f"& shiftleft(CAST(1 AS BIGINT), {bexpr} % {BLOOM_WORD_BITS}))"
                f" = shiftleft(CAST(1 AS BIGINT), {bexpr} % {BLOOM_WORD_BITS})"
            )
        )
    all_hit = hits[0]
    for h in hits[1:]:
        all_hit = all_hit & h
    probe = orders.crossJoin(F.broadcast(bloom_map)).select(
        "o_orderkey",
        "o_custkey",
        F.when(all_hit, 1).otherwise(0).alias("pass"),
    )
    member = hv.withColumn("is_m", F.lit(1))
    classed = probe.join(
        member, probe["o_custkey"] == member["key"], "left"
    ).select(
        F.when(
            (F.col("pass") == 0) & F.col("is_m").isNull(), "pruned"
        )
        .when((F.col("pass") == 1) & F.col("is_m").isNotNull(), "hit")
        .when(F.col("pass") == 1, "false_positive")
        .otherwise("missed")
        .alias("outcome")
    )
    return classed.groupBy("outcome").agg(
        F.count("*").alias("n_orders")
    )


@query(
    "q_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third rung of the join ladder: a recurring fact-to-fact join
    (orders ⋈ lineitem on the order key) over CO-BUCKETED landed tables
    — identical semantics to the plain join (the oracle IS the plain
    join), with the partitioning shuffle paid once at write time.

    Rungs: broadcast (small dim) → AQE-decided shuffle join (default)
    → THIS, for joins that recur on the same key. land_bucketed writes
    both sides bucketed+sorted on the key with corpus_buckets()'s count,
    so the join itself reads co-located buckets with NO Exchange on
    either side (plan pinned in tests/test_bucketed.py and
    tests/test_plans.py). At 100 TB the landing is the nightly table
    layout and every downstream join/groupBy on the key rides it free;
    here the query performs the landing inline so the driver exercises
    write → co-located read end-to-end. DECIMAL partials keep the
    two-phase sum order-independent (q_salted_join convention).
    """
    from data_engineering_project_spotify_app_spark.sources.bucketed import (
        bucketed_join,
        corpus_buckets,
        land_bucketed,
    )

    # sanitize the sf token into the table names: one landing per SF,
    # overwritten on re-run (idempotent), never cross-SF stale reads
    tok = "".join(c if c.isalnum() else "_" for c in sf_dir.rstrip("/").rsplit("/", 1)[-1])
    t_orders, t_lineitem = f"b_orders_{tok}", f"b_lineitem_{tok}"
    n_buckets = corpus_buckets(spark, sf_dir)
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount"
    )
    land_bucketed(o, t_orders, "okey", n_buckets)
    land_bucketed(li, t_lineitem, "okey", n_buckets)
    joined = bucketed_join(spark, t_orders, t_lineitem, "okey")
    return joined.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (1 - F.col("l_discount").cast("decimal(18,4)"))
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


SKEW_TOPK = 10  # heaviest join keys reported
SKEW_SHARE_PCT = 40  # flag keys owning > 40% of the self-join output


@query(
    "q_selfjoin_skew",
    oracle=f"""
    WITH k AS (
      SELECT user_id AS key, count(*) AS n FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n * n) AS BIGINT) AS est_rows FROM k)
    SELECT k.key, CAST(k.n AS BIGINT) AS n,
           CAST(k.n * k.n AS BIGINT) AS contrib,
           round(k.n * k.n * 100.0 / tot.est_rows, 4) AS share_pct,
           k.n * k.n * 100 > {SKEW_SHARE_PCT} * tot.est_rows AS skewed
    FROM k CROSS JOIN tot
    ORDER BY contrib DESC, k.key ASC
    LIMIT {SKEW_TOPK}
    """,
)
def q_selfjoin_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew pre-detection: before running a key-equi self-join
    (sessionization, co-visitation, pair mining), audit the key
    histogram — the join emits Σ c(k)² rows, so ONE hot key can own the
    whole output and serialize the stage that processes it. Reports the
    top keys by output contribution with their share, flagging any key
    past the salt-or-drop threshold; the flagged set is exactly the
    per-key salting list q_salted_join consumes.

    Scale: a groupBy on the join key (partial-agg map-side), a 1-row
    broadcast total, and a TakeOrderedAndProject top-k — the audit costs
    one cheap pass over the fact table vs. the blown-up join it
    prevents. The skew test cross-multiplies integers (n²·100 vs
    pct·Σn²) so the flag is exact in both engines.
    """
    e = table(spark, sf_dir, "events")
    return selfjoin_skew(e, "user_id", SKEW_TOPK, SKEW_SHARE_PCT)


def selfjoin_skew(
    df: DataFrame, key_col: str, topk: int, share_pct: int
) -> DataFrame:
    """Key-histogram audit behind q_selfjoin_skew (reusable on any
    frame/key so tests can pin flagging on a synthetic hot key)."""
    k = df.groupBy(F.col(key_col).alias("key")).agg(F.count("*").alias("n"))
    tot = k.agg(F.sum(F.col("n") * F.col("n")).cast("bigint").alias("est_rows"))
    contrib = F.col("n") * F.col("n")
    return (
        k.crossJoin(F.broadcast(tot))
        .select(
            "key",
            F.col("n").cast("bigint").alias("n"),
            contrib.cast("bigint").alias("contrib"),
            F.round(contrib * 100.0 / F.col("est_rows"), 4).alias("share_pct"),
            (contrib * 100 > share_pct * F.col("est_rows")).alias("skewed"),
        )
        .orderBy(F.col("contrib").desc(), F.col("key").asc())
        .limit(topk)
    )


ZM_FILES = 16


_ZONEMAP_ORACLE = f"""
    WITH li AS (
      SELECT l_partkey, l_orderkey, l_linenumber FROM lineitem
    ),
    bounds AS (
      SELECT CAST(floor(min(l_partkey)
               + 0.40 * (max(l_partkey) - min(l_partkey))) AS BIGINT) AS lo,
             CAST(floor(min(l_partkey)
               + 0.50 * (max(l_partkey) - min(l_partkey))) AS BIGINT) AS hi
      FROM li
    ),
    layouts AS (
      SELECT 'sorted' AS layout, l_partkey,
             CAST(ntile({ZM_FILES}) OVER (
               ORDER BY l_partkey, l_orderkey, l_linenumber
             ) AS BIGINT) AS file
      FROM li
      UNION ALL
      SELECT 'shuffled' AS layout, l_partkey,
             CAST(instr('0123456789abcdef',
                  substr(md5(CAST(l_orderkey AS VARCHAR) || '_'
                             || CAST(l_linenumber AS VARCHAR)), 1, 1)) - 1
                  AS BIGINT) AS file
      FROM li
    ),
    zones AS (
      SELECT layout, file,
             min(l_partkey) AS fmin, max(l_partkey) AS fmax
      FROM layouts GROUP BY 1, 2
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN NOT (fmax < lo OR fmin > hi)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
           round(1.0 - sum(CASE WHEN NOT (fmax < lo OR fmin > hi)
                                THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             AS skip_rate
    FROM zones CROSS JOIN bounds
    GROUP BY layout
    """


@query("q_zonemap_skip", oracle=_ZONEMAP_ORACLE)
def q_zonemap_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (file min/max) skip-rate report: how many of
    {ZM_FILES} equal-size files a 10%-of-keyspace range predicate
    must scan under a key-SORTED layout vs a hash-SHUFFLED one. The
    quantified argument for paying the sort at write time — the
    sorted layout's per-file [min, max] ranges are disjoint slices of
    the key space, so the predicate touches ~10% of files + boundary,
    while every shuffled file spans the whole key range and zone maps
    skip nothing. This is exactly the parquet footer min/max pruning
    the scan planner does; see q_zorder_layout for the
    two-dimensional (z-order) version of the same statistics.

    Scale: file assignment for the sorted layout is the two-phase
    global rank + closed-form ntile (no single-partition window);
    zones are one hash aggregation; the report is ZM_FILES x 2 rows.
    Predicate bounds derive from min/max in-plan (broadcast 1-row), so
    the query is scale-factor-agnostic.
    """
    from data_engineering_project_spotify_app_spark.operators.rankutil import (
        ntile_from_rank,
        two_phase_global_rank,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_linenumber"
    )
    bounds = li.agg(
        F.floor(
            F.min("l_partkey")
            + 0.40 * (F.max("l_partkey") - F.min("l_partkey"))
        )
        .cast("bigint")
        .alias("lo"),
        F.floor(
            F.min("l_partkey")
            + 0.50 * (F.max("l_partkey") - F.min("l_partkey"))
        )
        .cast("bigint")
        .alias("hi"),
    )
    ranked = two_phase_global_rank(
        li,
        [F.col("l_partkey"), F.col("l_orderkey"), F.col("l_linenumber")],
        max(8, spark.sparkContext.defaultParallelism),
    )
    sorted_files = ranked.select(
        F.lit("sorted").alias("layout"),
        "l_partkey",
        ntile_from_rank(F.col("rn"), F.col("n"), ZM_FILES).alias("file"),
    )
    shuffled_files = li.select(
        F.lit("shuffled").alias("layout"),
        "l_partkey",
        F.expr(
            "CAST(instr('0123456789abcdef', substring(md5(concat("
            "CAST(l_orderkey AS STRING), '_', "
            "CAST(l_linenumber AS STRING))), 1, 1)) - 1 AS BIGINT)"
        ).alias("file"),
    )
    zones = (
        sorted_files.unionByName(shuffled_files)
        .groupBy("layout", "file")
        .agg(
            F.min("l_partkey").alias("fmin"),
            F.max("l_partkey").alias("fmax"),
        )
    )
    scanned = F.sum(
        F.when(
            ~((F.col("fmax") < F.col("lo")) | (F.col("fmin") > F.col("hi"))),
            1,
        ).otherwise(0)
    )
    return (
        zones.crossJoin(F.broadcast(bounds))
        .groupBy("layout")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            scanned.cast("bigint").alias("n_scanned"),
        )
        .select(
            "layout",
            "n_files",
            "n_scanned",
            F.round(
                1.0 - F.col("n_scanned") / F.col("n_files"), 4
            ).alias("skip_rate"),
        )
    )
