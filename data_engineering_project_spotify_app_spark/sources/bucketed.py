"""Bucketed managed-table landings — co-located joins at 100 TB.

The engine's big-join story has three rungs: broadcast (small dim),
AQE-decided shuffle join (default), and THIS — bucketing, for the
fact-to-fact joins that recur on the same key (orders ⋈ lineitem on
the order key, events sessionization by user, dedup probes by digest).
Landing both tables bucketed by the join key with the same bucket
count pays the partitioning shuffle ONCE at write time; every
subsequent equi-join (and groupBy) on that key reads co-located
buckets and skips its Exchange entirely — asserted on the executed
plan in tests/test_bucketed.py, not taken on faith.

This is the Spark-native replacement for the reference's "one object
per key" staging layout (app.py:204–208): where the reference made
per-key addressing the storage contract, a bucketed table makes
per-key CO-LOCATION the contract and leaves addressing to the format.

Scale notes:
- bucket count is fixed at write time, so it is sized from the corpus
  the landing derives from: corpus_buckets() gives
  ``min(maxBuckets, max(defaultParallelism, ceil(corpus_bytes /
  maxPartitionBytes)))`` — the rule Spark's file scan uses to split
  its input (``FilePartition.maxSplitBytes``: splits of at most
  ``spark.sql.files.maxPartitionBytes``, at least one per core). A
  250 KB corpus on 4 cores lands 4 buckets, on a 32-core driver 32;
  100 TB at 128 MB splits would be ~750k, so it is capped at
  ``spark.sql.sources.bucketing.maxBuckets`` (100k by default). Too
  few buckets = giant tasks; AQE cannot split a skewed BUCKET join
  (skew-join splitting only applies to shuffle joins), so a hot key
  still needs salting upstream of the landing.
- ``sortBy`` the bucket key so single-file buckets need no re-sort
  before a sort-merge join; Spark still inserts a Sort when a bucket
  has several files — land with one write (no appends) to keep the
  one-file-per-bucket invariant.
- Both sides must use the SAME bucket count; a mismatch silently
  falls back to a shuffled join (the parity test pins the matched
  case).
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def _managed_location(spark: SparkSession, table_name: str) -> str:
    """The filesystem path the session catalog would assign to managed
    table ``table_name`` (default warehouse layout: ``<warehouse>/<tbl>``
    for the default database, ``<warehouse>/<db>.db/<tbl>`` otherwise).
    Identifiers are lowercased the way the analyzer normalizes them."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    parsed = urlparse(wh)
    wh_path = parsed.path if parsed.scheme else wh
    if "." in table_name:
        db, tbl = table_name.rsplit(".", 1)
    else:
        db, tbl = spark.catalog.currentDatabase(), table_name
    db, tbl = db.lower(), tbl.lower()
    if db == "default":
        return os.path.join(wh_path, tbl)
    return os.path.join(wh_path, f"{db}.db", tbl)


def _warehouse_path(spark: SparkSession) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    parsed = urlparse(wh)
    return parsed.path if parsed.scheme else wh


# Pid-stamped liveness sentinels: every process that WRITES to (or
# adopts a table in) a warehouse records its pid under
# <warehouse>/_graft_live/. The orphan sweep below only deletes
# unclaimed directories when no OTHER live process has claimed the
# warehouse — without this, under a shared durable warehouse a second
# concurrent process would treat the first's live table directory as
# debris and rmtree it mid-run (ADVICE r10: the old behavior was a loud
# LOCATION_ALREADY_EXISTS; a silent cross-process delete is worse).
#
# Two hardenings against STALE sentinels permanently wedging a shared
# durable warehouse (ADVICE r11, medium):
# - this process removes its own sentinels at exit (session.py's atexit
#   only rmtree's the per-pid /tmp warehouse, never a durable shared
#   one — a clean exit used to leave the claim behind);
# - the sentinel body records the claimant's kernel start time
#   (/proc/<pid>/stat field 22), so a later process whose pid happens
#   to equal a long-dead claimant's is distinguishable from the
#   original: pid alive + start-time mismatch = reused pid = the claim
#   is dead and reapable instead of blocking every landing forever.
_CLAIMS_DIR = "_graft_live"

# claim files THIS process wrote (one per warehouse it touched)
_MY_CLAIM_FILES: set[str] = set()
_claims_atexit_registered = False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else


def _proc_start_token(pid: int) -> str | None:
    """Kernel start time of ``pid`` (clock ticks since boot — field 22
    of /proc/<pid>/stat), the token that tells a REUSED pid apart from
    the process that actually wrote a claim. None when /proc is not
    readable (non-Linux): callers fall back to pid-liveness only."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read().decode("ascii", "replace")
        # comm (field 2) is an arbitrary command name in parens and may
        # itself contain spaces/parens — split after the LAST ')' so it
        # can never shift the numeric fields.
        fields = stat.rsplit(")", 1)[1].split()
        return fields[19]  # fields[0] is field 3 (state) → 22 - 3 = 19
    except (OSError, IndexError):
        return None


def _claimant_alive(claim_path: str, pid: int) -> bool:
    """True iff the process that WROTE this claim is still running: the
    pid must be alive AND, when both the sentinel and /proc carry a
    start-time token, the tokens must match. An unreadable/legacy
    (empty) sentinel degrades to pid-liveness — conservative: never
    treat a possibly-live claimant as dead."""
    if not _pid_alive(pid):
        return False
    try:
        with open(claim_path) as f:
            stamp = f.read().strip()
    except OSError:
        return True
    if not stamp:
        return True  # pre-stamp sentinel format
    now = _proc_start_token(pid)
    return now is None or now == stamp


def _release_own_claims() -> None:
    """atexit: a cleanly-exiting process leaves no sentinel behind, so
    a shared durable warehouse is never wedged by a claim whose pid the
    kernel later reuses."""
    for path in list(_MY_CLAIM_FILES):
        try:
            os.remove(path)
        except OSError:
            pass
        _MY_CLAIM_FILES.discard(path)


def _claim_warehouse(spark: SparkSession) -> None:
    """Record this process as a live user of the warehouse (sentinel
    body = our kernel start time), register the atexit release, and
    sweep sentinels whose claimant is dead or whose pid was reused
    (same pattern as session.py's dead-pid /tmp-warehouse sweep)."""
    global _claims_atexit_registered
    d = os.path.join(_warehouse_path(spark), _CLAIMS_DIR)
    mine = os.path.join(d, str(os.getpid()))
    try:
        os.makedirs(d, exist_ok=True)
        with open(mine, "w") as f:
            f.write(_proc_start_token(os.getpid()) or "")
        _MY_CLAIM_FILES.add(mine)
        if not _claims_atexit_registered:
            _claims_atexit_registered = True
            import atexit

            atexit.register(_release_own_claims)
        names = os.listdir(d)
    except OSError:
        return
    for f in names:
        if (
            f.isdigit()
            and int(f) != os.getpid()
            and not _claimant_alive(os.path.join(d, f), int(f))
        ):
            try:
                os.remove(os.path.join(d, f))
            except OSError:
                pass


def _live_foreign_claimants(spark: SparkSession) -> list[int]:
    """Pids of OTHER live processes that have claimed this warehouse
    (start-time-verified: a reused pid does not count as a claimant)."""
    d = os.path.join(_warehouse_path(spark), _CLAIMS_DIR)
    try:
        names = os.listdir(d)
    except OSError:
        return []
    return [
        int(f)
        for f in names
        if f.isdigit()
        and int(f) != os.getpid()
        and _claimant_alive(os.path.join(d, f), int(f))
    ]


def _clear_orphaned_location(spark: SparkSession, table_name: str) -> None:
    """Idempotence against catalog/filesystem divergence: with the default
    in-memory catalog, a table created by a PREVIOUS process exists only
    as a warehouse directory — the fresh catalog has no entry for it, so
    ``saveAsTable`` refuses to create the managed table over the existing
    location (LOCATION_ALREADY_EXISTS). Such a directory is unreadable
    debris (its fingerprint TBLPROPERTY died with the old catalog), so
    when the catalog lacks the table but its resolved location exists on
    disk, delete the location and let the write recreate it. A MANAGED
    table the CURRENT catalog knows is left alone — mode=overwrite
    handles it — but an EXTERNAL one (a re-adopted seed, see
    _adopt_persisted_seed) is normalized to the no-table case first:
    saveAsTable(Overwrite) would drop it, leave its files behind, then
    refuse to recreate the managed table over them.

    Deleting is gated on warehouse ownership: when ANOTHER live process
    has claimed this warehouse (pid sentinel under _graft_live/), the
    unclaimed directory may be that process's live table — refuse
    LOUDLY instead of silently destroying cross-process data. Shared
    durable warehouses are single-writer by contract (module header);
    the sentinel turns a contract violation into an error instead of
    data loss."""
    if spark.catalog.tableExists(table_name):
        if spark.catalog.getTable(table_name).tableType != "EXTERNAL":
            return
        spark.sql(f"DROP TABLE {table_name}")
    loc = _managed_location(spark, table_name)
    if loc and os.path.isdir(loc):
        others = _live_foreign_claimants(spark)
        if others:
            raise RuntimeError(
                f"Refusing to clear orphaned table location {loc!r}: "
                f"live process(es) {others} have claimed this warehouse "
                f"(<warehouse>/{_CLAIMS_DIR}/<pid>), so the directory may "
                "be a table they own. Shared warehouses are "
                "single-writer; wait for the other process, use a "
                "separate warehouse, or remove its sentinel if it is a "
                "reused pid."
            )
        shutil.rmtree(loc, ignore_errors=True)


def land_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Land ``df`` as a managed parquet table bucketed (and sorted) on
    ``bucket_col`` — the pay-the-shuffle-once write. Landings derived
    from a corpus pass ``corpus_buckets(spark, sf_dir)`` as
    ``n_buckets``, so every landing of one corpus co-buckets.

    One writer job per landing (mode=overwrite): appends would add a
    second file per bucket and reintroduce the pre-join Sort. The
    pre-write ``repartition(n_buckets, bucket_col)`` uses the same
    murmur3-pmod hash as the bucket spec, so each write task holds
    exactly one bucket's rows → ONE file per bucket — the invariant
    Spark's scan needs to trust ``sortBy`` order and elide the
    sort-merge join's per-side Sort (asserted in tests).

    Idempotent against orphaned warehouse directories: the driver's
    default ``./spark-warehouse`` persists across processes while the
    in-memory catalog does not, so a previous run's table directory
    would otherwise crash this write with LOCATION_ALREADY_EXISTS
    (pinned cross-process in tests/test_landings.py).
    """
    _claim_warehouse(df.sparkSession)
    _clear_orphaned_location(df.sparkSession, table_name)
    (
        df.repartition(n_buckets, bucket_col)
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(*(sort_cols or [bucket_col]))
        .saveAsTable(table_name)
    )


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str,
    how: str = "inner",
) -> DataFrame:
    """Equi-join two co-bucketed landed tables on their bucket key.

    With matching bucket counts the physical plan is a sort-merge join
    with NO Exchange on either side (each task merges bucket i of both
    tables in place). The join is deliberately un-hinted: if one side
    is small, AQE may still choose broadcast — also exchange-free.
    """
    return spark.table(left_table).join(spark.table(right_table), key, how)


def drop_landed(spark: SparkSession, *table_names: str) -> None:
    """Drop managed landings (test hygiene / TTL'd staging parity)."""
    for name in table_names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


# ---------------------------------------------------------------------------
# Shared derive-once landings
#
# Several operator families consume the same derived frame (co-purchase
# edges, part baskets, minhash/simhash signatures, word bigrams); Spark
# shares no subplans across separate query executions, so each consumer
# used to re-pay the derivation. landed_frame() lands a derivation ONCE
# per (prefix, corpus) as a bucketed managed table and hands every later
# consumer a table scan.
#
# Contract:
# - Rebuild decisions are CONTENT-DRIVEN: every landing is stamped with a
#   fingerprint of its source corpus (file count + total bytes + max
#   mtime of the sf_dir's parquet, in TBLPROPERTIES); a consumer whose
#   fingerprint check fails re-lands instead of serving stale rows — so
#   regenerating the corpus in place (any process, any time) is safe and
#   needs no manual invalidation (pinned in tests/test_landings.py).
# - The process-local memo is a fast path only: a memo hit is validated
#   against the catalog (drop_landed / a new warehouse in-process must
#   not serve a dangling name — the memo is keyed on the session's
#   warehouse dir) and against the source fingerprint (an os.stat pass
#   over ~10 files, no Spark job).
# - Single-writer: two processes sharing one warehouse dir must not
#   land the same (prefix, sf_dir) concurrently (same md5-derived table
#   name; an overwrite can race another process's read). The bench /
#   driver / test flows are all single-process per warehouse.
# - Constructing a query DataFrame that consumes a landing triggers the
#   one-time write as a side effect (plan-only callers pay it once per
#   process; it is what makes the plan a bucketed table scan at all).
# ---------------------------------------------------------------------------

import threading  # noqa: E402
from collections.abc import Callable  # noqa: E402

# (prefix, sf_dir, warehouse) -> (table_name, source_fingerprint)
_LANDED: dict[tuple[str, str, str], tuple[str, str]] = {}

# Per-landing build locks: concurrent builders in ONE process (the
# build_all_landings pool below, or two query threads whose frames
# consume the same landing) must not race the overwrite-write of the
# same table — the single-writer contract above is per (prefix, corpus,
# warehouse), and within a process these locks enforce it: exactly one
# thread lands, the rest block on the lock and then take the memo fast
# path (pinned in tests/test_landings.py's concurrent-build race test).
_LANDING_LOCKS: dict[tuple[str, str, str], threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def _landing_lock(key: tuple[str, str, str]) -> threading.Lock:
    with _LOCKS_GUARD:
        return _LANDING_LOCKS.setdefault(key, threading.Lock())

_FP_PROP = "graft.source_fingerprint"


def corpus_stat(path: str) -> tuple[int, int, int]:
    """(parquet file count, total bytes, max mtime ns) of a parquet
    file or of every parquet file under a directory — one os.stat per
    file, no data read."""
    if os.path.isfile(path):
        st = os.stat(path)
        return 1, st.st_size, st.st_mtime_ns
    n, total, mx = 0, 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                n += 1
                total += st.st_size
                mx = max(mx, st.st_mtime_ns)
    return n, total, mx


def _fingerprint(stat: tuple[int, int, int]) -> str:
    return "{}:{}:{}".format(*stat)


def corpus_fingerprint(sf_dir: str) -> str:
    """Content fingerprint of a corpus directory: parquet file count +
    total bytes + max mtime (ns). Cheap (one os.stat per file, no data
    read) yet catches every in-place regeneration short of a same-size
    same-mtime rewrite — the staleness granularity a metastore's own
    transaction log would give a real table format."""
    return _fingerprint(corpus_stat(sf_dir))


def _buckets_for(spark: SparkSession, corpus_bytes: int) -> int:
    conf = spark._jsparkSession.sessionState().conf()
    tasks = -(-corpus_bytes // conf.filesMaxPartitionBytes())
    return min(
        conf.bucketingMaxBuckets(),
        max(spark.sparkContext.defaultParallelism, tasks),
    )


def corpus_buckets(spark: SparkSession, sf_dir: str) -> int:
    """Bucket count for a landing derived from the corpus at ``sf_dir``:
    ``min(spark.sql.sources.bucketing.maxBuckets, max(defaultParallelism,
    ceil(corpus_bytes / spark.sql.files.maxPartitionBytes)))`` — one
    bucket per input split Spark's file scan would cut from the corpus
    (``FilePartition.maxSplitBytes``), and at least one per core. It depends only
    on the corpus bytes and the session, so every landing of one corpus
    gets the same count and co-bucketed joins between them keep
    skipping their Exchange."""
    return _buckets_for(spark, corpus_stat(sf_dir)[1])


def _table_fingerprint(spark: SparkSession, name: str) -> str | None:
    """The source fingerprint a landed table was stamped with, or None
    (pre-fingerprint table / externally created)."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
    for r in rows:
        if r["key"] == _FP_PROP:
            return r["value"]
    return None


def _stamp_fingerprint(spark: SparkSession, name: str, fp: str) -> None:
    spark.sql(
        f"ALTER TABLE {name} SET TBLPROPERTIES ('{_FP_PROP}'='{fp}')"
    )


def _warehouse(spark: SparkSession) -> str:
    return spark.conf.get("spark.sql.warehouse.dir", "")


def landed_frame(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    bucket_col: str,
    build: Callable[[], DataFrame],
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """The derive-once landing: land ``build()`` via land_bucketed under
    a corpus-digested table name on first use, then serve the table —
    re-landing whenever the SOURCE fingerprint no longer matches the one
    the table was stamped with (corpus regenerated in place), or the
    memoized table is gone from this session's catalog (drop_landed).
    The bucket count is corpus_buckets()'s, taken from the same stat
    walk as the fingerprint."""
    stat = corpus_stat(sf_dir)
    fp = _fingerprint(stat)
    key = (prefix, sf_dir, _warehouse(spark))
    memo = _LANDED.get(key)
    # Memo fast path: serve the memoized table (which may be a seeded
    # external one) if the source fingerprint still holds and the table
    # still exists in this session's catalog.
    if (
        memo is not None
        and memo[1] == fp
        and spark.catalog.tableExists(memo[0])
    ):
        return spark.table(memo[0])
    # Slow path under the per-landing lock: a concurrent builder of the
    # SAME landing blocks here and re-checks the memo once the winner
    # publishes it — exactly-once build, no overwrite race. Builds of
    # DIFFERENT landings (distinct keys, distinct locks) proceed in
    # parallel, which is what build_all_landings overlaps. The lock may
    # be held across a nested landed_frame call (the graph chain's
    # build() consumes an upstream landing) — safe: the dependency
    # graph is acyclic, so lock order follows the chain and can't cycle.
    with _landing_lock(key):
        memo = _LANDED.get(key)
        if (
            memo is not None
            and memo[1] == fp
            and spark.catalog.tableExists(memo[0])
        ):
            return spark.table(memo[0])
        name = landing_table_name(prefix, sf_dir)
        # Cross-process / post-drop path: trust an existing catalog table
        # only if its stamped fingerprint matches the current source (with
        # the default in-memory catalog a fresh process never sees old
        # tables, so this triggers only under a durable metastore or after
        # an in-process memo invalidation).
        if not (
            spark.catalog.tableExists(name)
            and _table_fingerprint(spark, name) == fp
        ):
            # A previous process may have published a maintained table for
            # this landing (seed_landing's durable marker) — adopt it
            # instead of rebuilding from scratch.
            adopted = _adopt_persisted_seed(spark, sf_dir, prefix, fp)
            if adopted is not None:
                _LANDED[key] = (adopted, fp)
                return spark.table(adopted)
            land_bucketed(
                build(),
                name,
                bucket_col,
                _buckets_for(spark, stat[1]),
                sort_cols,
            )
            _stamp_fingerprint(spark, name, fp)
        _LANDED[key] = (name, fp)
        return spark.table(name)


def landing_table_name(prefix: str, sf_dir: str) -> str:
    """The corpus-digested table name landed_frame uses for
    (prefix, sf_dir) — exposed so external maintainers can drop or
    inspect a landing they are superseding."""
    import hashlib

    return f"{prefix}_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"


def _seed_marker_path(spark: SparkSession, prefix: str, sf_dir: str) -> str:
    """Where the durable seed record for (prefix, sf_dir) lives: a JSON
    marker under the warehouse itself, so it shares the warehouse's
    lifetime and is visible to every process that mounts it."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    parsed = urlparse(wh)
    wh_path = parsed.path if parsed.scheme else wh
    return os.path.join(
        wh_path, "_graft_seeds", landing_table_name(prefix, sf_dir) + ".json"
    )


def _drop_seed_marker(spark: SparkSession, prefix: str, sf_dir: str) -> None:
    try:
        os.remove(_seed_marker_path(spark, prefix, sf_dir))
    except OSError:
        pass


def _adopt_persisted_seed(
    spark: SparkSession, sf_dir: str, prefix: str, fp: str
) -> str | None:
    """Cross-process half of seed_landing: if a previous process
    published and seeded a maintained table for (prefix, sf_dir) and
    the corpus has not changed since, re-register the orphaned table
    directory into THIS catalog (CREATE TABLE from the recorded DDL +
    LOCATION → an external table with the original schema AND bucket
    spec, so co-located joins still elide their Exchange — pinned in
    tests/test_landings.py) and serve it. A marker whose fingerprint no
    longer matches is debris: the marker and, when no catalog entry
    claims it, the table directory are swept so neither outlives the
    corpus that produced them. Returns the adopted table name or None
    (no marker / stale / directory gone → caller rebuilds)."""
    import json

    path = _seed_marker_path(spark, prefix, sf_dir)
    if not os.path.isfile(path):
        return None
    try:
        with open(path) as f:
            marker = json.load(f)
        name, ddl = marker["table"], marker["ddl"]
    except (OSError, ValueError, KeyError):
        _drop_seed_marker(spark, prefix, sf_dir)
        return None
    if marker.get("fp") != fp:
        _drop_seed_marker(spark, prefix, sf_dir)
        # Sweep the stale table dir only when no OTHER live process has
        # claimed this warehouse (it may be mid-rebuild on the same
        # landing); leaving it is safe — the caller's rebuild hits the
        # ownership-gated orphan sweep, which refuses loudly.
        if not spark.catalog.tableExists(name) and not (
            _live_foreign_claimants(spark)
        ):
            loc = _managed_location(spark, name)
            if os.path.isdir(loc):
                shutil.rmtree(loc, ignore_errors=True)
        return None
    if spark.catalog.tableExists(name):
        # same-process re-adopt (e.g. after invalidate_landings)
        return name if _table_fingerprint(spark, name) == fp else None
    loc = _managed_location(spark, name)
    if not os.path.isdir(loc):
        _drop_seed_marker(spark, prefix, sf_dir)
        return None
    spark.sql(ddl + f" LOCATION '{loc}'")
    # The adopted external table reads this warehouse long-term: claim
    # it so a later process's orphan sweep cannot delete it mid-read.
    _claim_warehouse(spark)
    return name


def seed_landing(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    table_name: str,
) -> None:
    """Adopt an externally-maintained bucketed table (e.g. a streaming
    landing maintainer's published table — streaming/landing_stream.py)
    as THE landing for (prefix, sf_dir): every landed_frame consumer
    reads it instead of rebuilding, for as long as the current corpus
    fingerprint holds. The table must have the landing's schema and
    bucketing; it is stamped with the current source fingerprint so the
    ordinary staleness rules apply from then on.

    The adoption is DURABLE: the table's DDL (SHOW CREATE TABLE, which
    carries the bucket spec) is recorded in a marker under the
    warehouse, so a consumer in a LATER process re-registers the
    published table instead of silently rebuilding the batch landing
    while the streamed one rots (ADVICE r9 item 3)."""
    import json
    import tempfile

    fp = corpus_fingerprint(sf_dir)
    _stamp_fingerprint(spark, table_name, fp)
    _LANDED[(prefix, sf_dir, _warehouse(spark))] = (table_name, fp)
    ddl = spark.sql(f"SHOW CREATE TABLE {table_name}").collect()[0][0]
    path = _seed_marker_path(spark, prefix, sf_dir)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump({"table": table_name, "fp": fp, "ddl": ddl}, f)
    os.replace(tmp, path)  # atomic: readers never see a torn marker


def invalidate_landings(
    sf_dir: str | None = None, warehouse: str | None = None
) -> None:
    """Forget landing memos (all, or one corpus) AND drop the durable
    seed markers, so "force the slow path" holds cross-process. With
    content fingerprints this is no longer REQUIRED after regenerating
    testdata (the fingerprint check re-lands automatically); it remains
    for tests and publish flows that want to force the slow path — a
    marker that survived the explicit invalidation would silently
    re-adopt the very table the caller is superseding (maintainers
    re-seed right after, landing_stream.py).

    Markers written by OTHER processes are not in this process's memo,
    so the ``_graft_seeds`` directory of every warehouse this call can
    name is globbed for the corpus's markers: the warehouses recorded
    in the memoized keys being invalidated, the active session's
    warehouse if any, and an explicit ``warehouse=`` argument (ADVICE
    r11: the previous form relied solely on getActiveSession(), so a
    sessionless caller silently skipped the glob and swept only the
    active session's warehouse, never the memoized ones)."""
    import glob as _glob
    import hashlib

    wh_paths: set[str] = set()

    def _as_path(wh: str) -> str:
        parsed = urlparse(wh)
        return parsed.path if parsed.scheme else wh

    for key in [k for k in _LANDED if sf_dir is None or k[1] == sf_dir]:
        wh_paths.add(_as_path(key[2]))
        del _LANDED[key]
    if warehouse is not None:
        wh_paths.add(_as_path(warehouse))
    spark = SparkSession.getActiveSession()
    if spark is not None:
        wh_paths.add(_warehouse_path(spark))
    pattern = (
        "*.json"
        if sf_dir is None
        else f"*_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}.json"
    )
    for wh_path in wh_paths:
        if not wh_path:
            continue
        seeds = os.path.join(wh_path, "_graft_seeds")
        for path in _glob.glob(os.path.join(seeds, pattern)):
            try:
                os.remove(path)
            except OSError:
                pass


# ---------------------------------------------------------------------------
# Cold-path landing prebuild
# ---------------------------------------------------------------------------

# The graph landings form a derivation chain (each build() consumes the
# previous landing), so they must run in this order; everything else is
# independent. Kept here, next to the locks that make concurrent builds
# safe, as the single source of truth for "what are the shared landings"
# (scripts/full_sweep.py consumes this list).
_CHAIN_LANDINGS = ("part_baskets", "copurchase_edges", "oriented_adjacency")


def landing_builders() -> list[tuple[str, Callable]]:
    """The canonical shared-landing registry, in chain order: (name,
    fn(spark, sf_dir) -> DataFrame) per landing. Imports lazily — the
    operators package imports this module, so a top-level import here
    would cycle."""
    from data_engineering_project_spotify_app_spark.operators import (
        dedup,
        graphs,
    )

    return [
        ("part_baskets", graphs.landed_part_baskets),
        ("copurchase_edges", graphs.landed_copurchase_edges),
        ("oriented_adjacency", graphs.landed_oriented_adjacency),
        ("minhash_signatures", dedup._minhash_signatures),
        ("word_bigrams", dedup._bigram_grams),
        ("simhash_signatures", dedup._simhash_signatures),
        ("winnow_fingerprints", dedup._winnow_fingerprints),
        ("winnow_word_fingerprints", dedup._winnow_word_fingerprints),
    ]


def build_all_landings(
    spark: SparkSession, sf_dir: str, max_workers: int = 4
) -> dict[str, float]:
    """Build every shared landing for ``sf_dir`` CONCURRENTLY — the
    cold-start path (VERDICT r13 item 1: 8 independent single-writer
    builds ran serially and cost 51 s in a stone-cold process).

    The graph chain runs as ONE sequential task (its builds derive from
    each other); every other landing is its own task. Spark interleaves
    jobs submitted from separate driver threads, so the expensive
    HOF/groupBy pipelines overlap instead of queueing — the
    generalization of dedup._both_winnow_landings' 2-thread pattern.
    The per-landing locks in landed_frame make a same-prefix race build
    exactly once, and a warm call is 8 memo hits.

    Returns name → seconds. NOTE these are per-task wall times that
    OVERLAP under concurrency — they attribute relative cost but do not
    sum to the elapsed wall. This is for cold CORRECTNESS paths
    (full_sweep, driver-style gates) where only total wall matters. A
    failed build propagates after all tasks settle (a landing failure
    is never recoverable by its consumers)."""
    import concurrent.futures as cf
    import time as _time

    builders = landing_builders()
    chain = [(n, f) for n, f in builders if n in _CHAIN_LANDINGS]
    rest = [(n, f) for n, f in builders if n not in _CHAIN_LANDINGS]
    out: dict[str, float] = {}

    def _one(name: str, fn: Callable) -> None:
        t0 = _time.perf_counter()
        fn(spark, sf_dir)
        out[name] = round(_time.perf_counter() - t0, 3)

    def _chain() -> None:
        for name, fn in chain:
            _one(name, fn)

    with cf.ThreadPoolExecutor(max_workers=max(1, max_workers)) as ex:
        futs = [ex.submit(_chain)]
        futs += [ex.submit(_one, n, f) for n, f in rest]
        errs = [f.exception() for f in cf.as_completed(futs)]
    for e in errs:
        if e is not None:
            raise e
    return out
