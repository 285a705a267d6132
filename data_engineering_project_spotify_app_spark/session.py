"""SparkSession factory.

The reference hand-rolls its execution policy (30-thread pools, a global
admission semaphore, retry budgets — app.py:35–45, 102–127). In Spark all
of that is engine configuration, set once here:

- AQE, with partition coalescing and skew-join splitting, is on by
  Spark default and not restated here (runtime re-plan = the
  reference's "read total, then size the fan-out" trick at
  app.py:155–158, generalized to every shuffle);
- shuffle partitions sized to cores for local runs — on a real cluster
  AQE coalesces, so over-provisioning is safe;
- UTC session timezone (oracle comparisons and any cross-engine exchange);
- Arrow enabled so the pandas_udf slow-path is vectorized, never row-by-row.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil

from pyspark.sql import SparkSession

_WAREHOUSE_TMPL = "/tmp/spark_graft_warehouse_{uid}_{pid}"
_cleanup_registered = False


def _default_warehouse() -> str:
    """Per-user + per-process managed-table warehouse (a shared fixed
    path collides across concurrent runs/users). Registered for atexit
    removal, and stale dirs from DEAD processes are swept on first use —
    without either, every test/bench/gate process leaks a directory
    forever (VERDICT r9 item 6: same debris-accumulation failure mode as
    the driver's orphaned ./spark-warehouse, one directory over)."""
    global _cleanup_registered
    mine = _WAREHOUSE_TMPL.format(uid=os.getuid(), pid=os.getpid())
    if not _cleanup_registered:
        _cleanup_registered = True
        atexit.register(shutil.rmtree, mine, ignore_errors=True)
        prefix = _WAREHOUSE_TMPL.format(uid=os.getuid(), pid="")
        for path in glob.glob(prefix + "*"):
            try:
                pid = int(path.rsplit("_", 1)[-1])
            except ValueError:
                continue
            if pid == os.getpid():
                continue
            try:
                os.kill(pid, 0)  # alive → a concurrent run's warehouse
            except ProcessLookupError:
                shutil.rmtree(path, ignore_errors=True)
            except PermissionError:
                pass
    return mine


def get_spark(
    app_name: str = "data_engineering_project_spotify_app_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard confs.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
    (driver contract) or all cores. On a real cluster pass ``master=None``
    and submit with ``spark-submit``; the confs below are cluster-safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when the planner's size
        # conditions allow a per-partition hash build, and let AQE
        # convert remaining SMJs at runtime when every post-shuffle
        # partition measures under the threshold (r14 A/B on the
        # SMJ-heavy set at sf0.1: 17.4 -> 15.2 s; q_bfs_hops -37%,
        # q_pagerank -31%). The two knobs gate differently (ADVICE r14):
        # - the AQE threshold converts on MEASURED post-shuffle partition
        #   sizes — safe at any scale;
        # - preferSortMergeJoin=false converts in the STATIC planner on
        #   ESTIMATED plan sizes (sizeInBytes < threshold ×
        #   numShufflePartitions). An under-estimated build side (e.g.
        #   behind a selective-looking filter or a UDF) can OOM an
        #   executor at scale where SMJ would have spilled — SHJ's build
        #   hash map does not spill. Both are runtime SQL confs: a
        #   deployment that hits the estimate-miss mode restores
        #   sort-merge with spark.conf.set(
        #   "spark.sql.join.preferSortMergeJoin", "true") or the same
        #   key in extra_conf (AQE skew-join stays on either way).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # an events.parquet may store TIMESTAMP(NANOS), which a vanilla
        # session refuses; read it as long and convert in tables.py
        # (Spark has no ns timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # managed-table warehouse (bucketed landings — sources/bucketed.py)
        # off the repo tree; static conf, so set before the first session.
        # Per-user + per-process path: a shared fixed /tmp path collides
        # across concurrent runs/users (two writers overwriting the same
        # managed-table directory). The env override stays for callers
        # that WANT a durable shared warehouse.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE") or _default_warehouse(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
