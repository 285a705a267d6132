"""Two-phase exact global ranking — the scale-safe replacement for
``Window.orderBy(...)`` with no partition key.

A global-order window funnels the ENTIRE input through one task (Spark
plans a single-partition Exchange + one WindowExec); fine at sf0.1,
fatal at 100 TB. The two-phase form keeps every stage parallel:

1. ``repartitionByRange`` on the sort key — each partition holds one
   contiguous range of the global order (Spark samples the key to pick
   balanced boundaries, so skew is bounded by the sampler);
2. count rows per range (one row per partition — tiny);
3. broadcast the running offsets back and add each range's LOCAL
   row_number (a windowspec partitioned by ``pid``) to its offset.

The only unpartitioned windows run over the per-range count frame —
``n_ranges`` rows, one per partition — never over data rows. Proven on
``q_ccnet_buckets`` (textops.py) and ``q_pack_shards`` (curation.py);
plan shape pinned in tests/test_plans.py.

Requires the sort key to be a TOTAL order (add a unique tie-break
column) so ranks are deterministic and rank == row_number.

EXECUTION-CONSISTENCY REQUIREMENT (round-13 invariance sweep): the
range-partitioned frame is consumed TWICE — once for the per-range
counts, once for the local windows — and Spark's range exchange
samples its boundaries with a per-execution random seed (the
RangePartitioner seeds from the RDD id). The two consumers only see
the SAME boundaries when the planner reuses the exchange; divergent
column pruning can make the two exchange subtrees differ, and with
AQE off the sweep caught exactly that (q_lorenz_curve's cumulative
shares shifted with the shuffle-partition count — offsets computed
against one sampling, local ranks against another). The ranged frame
is therefore pinned behind ``localCheckpoint(eager=False)``: ONE
execution, one boundary sampling, shared by both consumers under every
config. The pin is lazy only with AQE off; with AQE on (the default)
the range exchange's shuffle stage runs at the pin call itself
(pinutil's module doc). The
pre-checkpoint plan shape is pinned by tests/test_plans.py through
``ranged_by`` (the checkpoint hides it from consumer explains).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# Test observation hook (ADVICE r13): callables registered here receive
# every phase-1 ranged frame BEFORE the localCheckpoint pin, so plan
# tests can assert the ACTUAL consumer's pre-checkpoint shape (exactly
# one range exchange — never a hash repartition smuggled behind the
# checkpoint), which the consumer's own explain cannot see through the
# Scan ExistingRDD boundary. Empty in production: zero overhead.
PHASE1_OBSERVERS: list[Callable[[DataFrame], None]] = []


def _observe_phase1(ranged: DataFrame) -> DataFrame:
    for obs in PHASE1_OBSERVERS:
        obs(ranged)
    return ranged


def ranged_by(
    df: DataFrame, order_cols: list[Column], n_ranges: int
) -> DataFrame:
    """``df`` range-partitioned on ``order_cols`` with the partition id
    materialized as ``pid`` — the shared phase-1 of both two-phase
    operators, exposed un-checkpointed so tests can pin its plan shape
    (rangepartitioning + nothing else touching data rows)."""
    return df.repartitionByRange(n_ranges, *order_cols).withColumn(
        "pid", F.spark_partition_id()
    )


def two_phase_global_rank(
    df: DataFrame, order_cols: list[Column], n_ranges: int
) -> DataFrame:
    """Add ``rn`` (1-based exact global row_number over ``order_cols``)
    and ``n`` (total row count) to ``df`` without a single-partition
    window. ``order_cols`` must be a total order over ``df``'s rows.
    """
    # localCheckpoint: ONE execution of the randomly-sampled range
    # exchange, so the count consumer and the window consumer can never
    # see different boundaries (module docstring; the blocks are owned
    # by the RDD and freed with it — the ADVICE-r9 cache discipline)
    ranged = _observe_phase1(
        ranged_by(df, order_cols, n_ranges)
    ).localCheckpoint(eager=False)
    part_counts = ranged.groupBy("pid").agg(F.count("*").alias("cnt"))
    # offsets accumulate in pid order: repartitionByRange assigns
    # partition i the i-th range of the sort, so pid IS the global range
    # order — ordering by a per-range aggregate (e.g. max key) could
    # misorder adjacent ranges that tie on it.
    off_w = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    all_w = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    offsets = part_counts.select(
        "pid",
        F.coalesce(F.sum("cnt").over(off_w), F.lit(0)).alias("_off"),
        F.sum("cnt").over(all_w).alias("n"),
    )
    local_w = W.partitionBy("pid").orderBy(*order_cols)
    return (
        ranged.join(F.broadcast(offsets), "pid")
        .withColumn("rn", F.col("_off") + F.row_number().over(local_w))
        .drop("pid", "_off")
    )


def two_phase_prefix_max(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    n_ranges: int,
    out_col: str = "prefix_max",
) -> DataFrame:
    """Add ``out_col`` = EXCLUSIVE running max of ``value_col`` over the
    global ``order_cols`` order, without a single-partition window
    (null for the globally first row — no strictly-earlier rows).

    Same decomposition as two_phase_global_rank: range-partition on the
    sort key, per-range local exclusive prefix max (windows partitioned
    by ``pid``), then one tiny window over the per-range TOTAL maxes
    (n_ranges rows) to get each range's carry-in, combined with
    ``greatest`` (null-skipping). ``order_cols`` must totally order the
    rows — with ties the exclusive prefix would be split-dependent.
    """
    # same execution-consistency pin as two_phase_global_rank: the
    # per-range totals and the local windows must read ONE sampling
    ranged = _observe_phase1(
        ranged_by(df, order_cols, n_ranges)
    ).localCheckpoint(eager=False)
    part_tot = ranged.groupBy("pid").agg(F.max(value_col).alias("_ptot"))
    # carry-in per range: max over all STRICTLY EARLIER ranges (pid
    # order IS the global range order, as in two_phase_global_rank)
    carry_w = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    carries = part_tot.select(
        "pid", F.max("_ptot").over(carry_w).alias("_carry")
    )
    local_w = (
        W.partitionBy("pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        ranged.join(F.broadcast(carries), "pid")
        .withColumn("_local", F.max(value_col).over(local_w))
        .withColumn(out_col, F.greatest("_carry", "_local"))
        .drop("pid", "_carry", "_local")
    )


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """SQL-standard ntile(k) from an exact global row_number: the first
    ``n mod k`` buckets hold floor(n/k)+1 rows, the rest floor(n/k) —
    closed-form arithmetic, no window. Pair with two_phase_global_rank
    to get scale-safe ntile (the q_ntile pattern)."""
    q = F.floor(n / k)
    r = n % k
    big = r * (q + 1)
    # greatest(q,1): the otherwise-branch is unreachable when q=0, but
    # ANSI mode evaluates the divisor eagerly
    return (
        F.when(rn <= big, F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rn - big - 1) / F.greatest(q, F.lit(1))) + 1)
        .cast("bigint")
    )
