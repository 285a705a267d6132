"""Parquet table access for the driver fixtures (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an sf dir.

Scans are plain declarative ``spark.read.parquet`` so Catalyst gets
predicate pushdown + column pruning for free; callers select/filter and
the parquet reader prunes (verify with ``.explain`` → PushedFilters /
ReadSchema). A table whose files are unchanged since its last read is
read with the schema inferred then, so only its first read runs the
footer-reading inference job. ``broadcast_dims`` marks the tables that
are small at every scale factor (region=5 rows, nation=25 — fixed-size
dimensions in TPC-H); joins against them should always broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from data_engineering_project_spotify_app_spark.sources.bucketed import (
    corpus_stat,
)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Fixed-cardinality dimensions: safe to broadcast at ANY scale factor.
ALWAYS_BROADCAST = frozenset({"region", "nation"})


def _ensure_session_confs(spark: SparkSession) -> None:
    """Self-configure runtime confs the engine depends on.

    The driver harness calls queries() with ITS OWN SparkSession, which
    may lack the session.py builder confs; both of these are runtime-
    settable SQL confs, so set them defensively on every table access:
    - nanosAsLong: an events.parquet may store TIMESTAMP(NANOS) — its
      read throws PARQUET_TYPE_ILLEGAL without it;
    - UTC session timezone: timestamp values must collect identically to
      the (naive-UTC) DuckDB oracle regardless of host timezone.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down (e.g. spark-connect policy): proceed


# path -> ((file count, bytes, max mtime ns), inferred schema): a path
# whose files are unchanged is read with its known schema, which skips
# schema inference's footer-reading job.
_SCHEMAS: dict[str, tuple[tuple[int, int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    stat = corpus_stat(path)
    memo = _SCHEMAS.get(path)
    if memo is not None and memo[0] == stat:
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stat, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table as a DataFrame (lazy parquet scan).

    ``events.ts`` may be stored as TIMESTAMP(NANOS), which Spark reads as
    a nanosecond long (``nanosAsLong`` conf in session.py); it is converted
    to a microsecond timestamp here (truncating, matching DuckDB's
    ``CAST(ts AS TIMESTAMP)`` on the same file — the oracles do exactly
    that, so both engines compute on identical µs values).
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    _ensure_session_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) layout read via nanosAsLong → truncate to µs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # timestamp[us] layout: parquet NTZ inference leaks
            # timestamp_ntz, which unix_micros & friends reject — cast to
            # session-TZ (UTC) timestamp, same wall-clock values DuckDB
            # reads for the oracle.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table_parallel(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """A fixture table repartitioned for compute-heavy consumers.

    Small fixture files arrive as ONE input split (a 5 MB parquet is
    below maxPartitionBytes), which serializes expression-heavy paths
    (tokenize→shingle→hash) onto a single core — measured 2.3x on the
    shingle build. Repartition ONLY when the scan is under-split; on
    real many-file/many-row-group data this is a no-op, so the extra
    shuffle never appears at scale.
    """
    df = table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        df = df.repartition(target)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All fixture tables, keyed by name."""
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
