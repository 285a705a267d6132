"""Shared at-rest landings (edges, baskets, minhash/simhash/bigram
frames): derive-once correctness contracts.

Rebuild decisions are content-driven: each landing is stamped with a
fingerprint of its source corpus, and a consumer whose fingerprint
check fails re-lands instead of serving stale rows. These tests pin
that contract, the memo-vs-catalog validation, and the
landed == derived equivalence.
"""

from __future__ import annotations

from data_engineering_project_spotify_app_spark.operators import dedup, graphs


def test_landed_edges_equal_derived(spark, sf_dir):
    landed = {
        tuple(r)
        for r in graphs.landed_copurchase_edges(spark, sf_dir).collect()
    }
    derived = {
        tuple(r) for r in graphs.copurchase_edges(spark, sf_dir).collect()
    }
    assert landed == derived and landed


def test_landing_overwrites_stale_cross_process_table(spark, sf_dir):
    """A table left by a PREVIOUS process (memo empty) without a
    matching source fingerprint must be re-landed on first use, not
    trusted — regenerated testdata would otherwise be silently served
    from the stale catalog entry."""
    from data_engineering_project_spotify_app_spark.sources import bucketed

    want = sorted(
        tuple(r)
        for r in graphs.landed_copurchase_edges(spark, sf_dir).collect()
    )
    key = ("copurchase_edges", sf_dir, bucketed._warehouse(spark))
    name = bucketed._LANDED[key][0]
    # simulate the stale leftover: same table name, junk contents (the
    # overwrite drops the fingerprint property, as a foreign table would
    # lack it)
    spark.createDataFrame([(999999, 999998)], "src long, dst long").write.mode(
        "overwrite"
    ).format("parquet").saveAsTable(name)
    bucketed.invalidate_landings(sf_dir)  # "new process": memo empty
    got = sorted(
        tuple(r)
        for r in graphs.landed_copurchase_edges(spark, sf_dir).collect()
    )
    assert got == want


def _write_corpus(spark, corpus_dir: str, rows) -> None:
    spark.createDataFrame(rows, "k long, v string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{corpus_dir}/data.parquet")


def test_landing_rebuilds_on_corpus_mutation(spark, tmp_path):
    """Mutating the corpus in place under a WARM memo must serve the
    rebuilt landing, not stale rows — the content fingerprint, not the
    memo, decides (VERDICT r8 item 4)."""
    from data_engineering_project_spotify_app_spark.sources import bucketed

    corpus = str(tmp_path / "corpus")

    def build():
        return spark.read.parquet(f"{corpus}/data.parquet")

    def landing():
        return bucketed.landed_frame(
            spark, corpus, "fp_probe", "k", build
        )

    _write_corpus(spark, corpus, [(1, "a"), (2, "b")])
    assert sorted(tuple(r) for r in landing().collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    # warm memo + corpus rewritten in place (fresh-process staleness is
    # a strict subset of this: there the memo is cold and the catalog
    # fingerprint mismatches the same way)
    _write_corpus(spark, corpus, [(3, "c")])
    assert sorted(tuple(r) for r in landing().collect()) == [(3, "c")]
    # unchanged corpus: the memo fast path serves the same table with no
    # rebuild (the build() closure would fail loudly if re-run against a
    # dropped source, so just re-read)
    assert sorted(tuple(r) for r in landing().collect()) == [(3, "c")]


def test_landing_memo_validates_catalog_after_drop(spark, tmp_path):
    """drop_landed under a warm memo must re-land on next use, not raise
    on a dangling table name (ADVICE r8 item 1)."""
    from data_engineering_project_spotify_app_spark.sources import bucketed

    corpus = str(tmp_path / "corpus2")
    _write_corpus(spark, corpus, [(7, "x")])

    def landing():
        return bucketed.landed_frame(
            spark,
            corpus,
            "drop_probe",
            "k",
            lambda: spark.read.parquet(f"{corpus}/data.parquet"),
        )

    assert landing().count() == 1
    key = ("drop_probe", corpus, bucketed._warehouse(spark))
    bucketed.drop_landed(spark, bucketed._LANDED[key][0])
    assert [tuple(r) for r in landing().collect()] == [(7, "x")]


def test_land_bucketed_clears_orphaned_location(spark):
    """An orphaned warehouse directory (left by a previous PROCESS whose
    in-memory catalog died with it) must not crash the landing write
    with LOCATION_ALREADY_EXISTS — land_bucketed treats a location the
    current catalog has no table for as removable debris (VERDICT r9
    item 1; this is the exact failure that redded 25 r09 driver rows)."""
    import os

    from data_engineering_project_spotify_app_spark.sources import bucketed

    name = "orphan_probe_tbl"
    assert not spark.catalog.tableExists(name)
    loc = bucketed._managed_location(spark, name)
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "junk.parquet"), "w") as f:
        f.write("not parquet")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    bucketed.land_bucketed(df, name, "k", 2)
    assert sorted(tuple(r) for r in spark.table(name).collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    bucketed.drop_landed(spark, name)


def test_orphan_sweep_refuses_under_live_foreign_claim(spark):
    """With ANOTHER live process claiming the warehouse (pid sentinel
    under _graft_live/), an unclaimed table directory may be that
    process's live table — the sweep must refuse LOUDLY, not silently
    rmtree cross-process data (ADVICE r10 item 1). Removing the claim
    restores the normal debris sweep."""
    import os

    import pytest

    from data_engineering_project_spotify_app_spark.sources import bucketed

    name = "claimed_orphan_probe_tbl"
    assert not spark.catalog.tableExists(name)
    loc = bucketed._managed_location(spark, name)
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "junk.parquet"), "w") as f:
        f.write("not parquet")
    claims = os.path.join(bucketed._warehouse_path(spark), "_graft_live")
    os.makedirs(claims, exist_ok=True)
    sentinel = os.path.join(claims, "1")  # pid 1: always alive, never us
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    try:
        with open(sentinel, "w"):
            pass
        with pytest.raises(RuntimeError, match="claimed this warehouse"):
            bucketed.land_bucketed(df, name, "k", 2)
        assert os.path.isdir(loc)  # nothing was deleted
    finally:
        os.remove(sentinel)
    bucketed.land_bucketed(df, name, "k", 2)
    assert [tuple(r) for r in spark.table(name).collect()] == [(1, "a")]
    bucketed.drop_landed(spark, name)


def test_orphan_sweep_proceeds_past_dead_claimant(spark):
    """A sentinel left by a DEAD process (the driver-restart case) must
    not block the sweep — it is reaped and the landing proceeds."""
    import os
    import subprocess
    import sys

    from data_engineering_project_spotify_app_spark.sources import bucketed

    # a real pid that is certainly dead by the time we use it
    proc = subprocess.run([sys.executable, "-c", "import os;print(os.getpid())"],
                          capture_output=True, text=True)
    dead_pid = proc.stdout.strip()
    name = "dead_claim_orphan_probe_tbl"
    loc = bucketed._managed_location(spark, name)
    os.makedirs(loc, exist_ok=True)
    claims = os.path.join(bucketed._warehouse_path(spark), "_graft_live")
    os.makedirs(claims, exist_ok=True)
    sentinel = os.path.join(claims, dead_pid)
    with open(sentinel, "w"):
        pass
    df = spark.createDataFrame([(2, "b")], "k long, v string")
    bucketed.land_bucketed(df, name, "k", 2)
    assert [tuple(r) for r in spark.table(name).collect()] == [(2, "b")]
    assert not os.path.exists(sentinel)  # dead claim reaped
    bucketed.drop_landed(spark, name)


def test_invalidate_landings_drops_foreign_markers(spark, tmp_path):
    """invalidate_landings(sf_dir) must remove durable seed markers it
    never memoized (written by ANOTHER process): the memo-only form was
    a cross-process no-op, leaving a superseded landing silently
    re-adoptable (ADVICE r10 item 5)."""
    import json
    import os

    from data_engineering_project_spotify_app_spark.sources import bucketed

    corpus = str(tmp_path / "foreign_corpus")
    _write_corpus(spark, corpus, [(1, "a")])
    marker = bucketed._seed_marker_path(spark, "foreign_probe", corpus)
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as f:
        json.dump({"table": "t", "fp": "x", "ddl": "CREATE ..."}, f)
    key = ("foreign_probe", corpus, bucketed._warehouse(spark))
    assert key not in bucketed._LANDED  # truly foreign: not memoized
    bucketed.invalidate_landings(corpus)
    assert not os.path.isfile(marker)


_CROSS_PROC_SCRIPT = """
import json, sys
sys.path.insert(0, ".")
from data_engineering_project_spotify_app_spark.session import get_spark
from data_engineering_project_spotify_app_spark.operators import dedup, scale_ops

sf = "/root/testdata/sf0.001"
spark = get_spark(app_name="cross_proc_landing")
sig_rows = dedup._minhash_signatures(spark, sf).count()
bj = sorted(
    (r[0], round(r[1], 2), r[2])
    for r in scale_ops.q_bucketed_join(spark, sf).collect()
)
print("RESULT " + json.dumps({"sig_rows": sig_rows, "bj": bj}))
spark.stop()
"""


def test_fresh_catalog_over_populated_warehouse(tmp_path):
    """The driver environment the per-PID test warehouses cannot see:
    process 1 lands the shared landings + q_bucketed_join's fixed-name
    tables into a warehouse and exits (its catalog dies, the table
    directories persist); process 2 — a FRESH JVM and in-memory catalog
    on the SAME warehouse — must re-land over the debris and produce
    identical results, not crash with LOCATION_ALREADY_EXISTS (VERDICT
    r9 item 2: the exact r08→r09 driver sequence)."""
    import json
    import os
    import subprocess
    import sys

    wh = str(tmp_path / "shared_warehouse")
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=wh)
    results = []
    for attempt in ("land", "re-land over debris"):
        proc = subprocess.run(
            [sys.executable, "-c", _CROSS_PROC_SCRIPT],
            capture_output=True,
            text=True,
            env=env,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            timeout=600,
        )
        assert proc.returncode == 0, (
            f"{attempt} failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
        assert line, proc.stdout[-2000:]
        results.append(json.loads(line[-1][len("RESULT "):]))
    assert results[0] == results[1] and results[0]["sig_rows"] > 0


_SEED_PUBLISH_SCRIPT = """
import sys
sys.path.insert(0, ".")
from data_engineering_project_spotify_app_spark.session import get_spark
from data_engineering_project_spotify_app_spark.sources import bucketed

corpus, mode = sys.argv[1], sys.argv[2]
spark = get_spark(app_name="seed_persist_probe")
build = lambda: spark.read.parquet(corpus + "/data.parquet")
if mode == "publish":
    # maintainer flow: batch landing exists, then a maintained table is
    # published and seeded over it (landing_stream.publish's shape)
    bucketed.landed_frame(spark, corpus, "seed_probe", "k", build)
    name = bucketed.landing_table_name("seed_probe", corpus) + "_streamed"
    bucketed.land_bucketed(build(), name, "k", 2)
    bucketed.seed_landing(spark, corpus, "seed_probe", name)
else:
    # consumer flow in a FRESH process: must adopt the published table,
    # not silently rebuild the batch landing
    df = bucketed.landed_frame(spark, corpus, "seed_probe", "k", build)
    key = ("seed_probe", corpus, bucketed._warehouse(spark))
    rows = sorted(tuple(r) for r in df.collect())
    print("ADOPTED " + bucketed._LANDED[key][0] + " " + repr(rows))
spark.stop()
"""


def test_seed_adoption_survives_process_restart(spark, tmp_path):
    """seed_landing's adoption must outlive the publishing process: a
    consumer in a fresh JVM (new in-memory catalog, same warehouse)
    re-registers the published table from the durable seed marker and
    reads IT — not a silently rebuilt batch landing (ADVICE r9 item 3:
    adoption was process-local, degrading publish() to per-process)."""
    import os
    import subprocess
    import sys

    corpus = str(tmp_path / "corpus_seed")
    _write_corpus(spark, corpus, [(1, "a"), (2, "b")])
    wh = str(tmp_path / "seed_warehouse")
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=wh)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = []
    for mode in ("publish", "consume"):
        proc = subprocess.run(
            [sys.executable, "-c", _SEED_PUBLISH_SCRIPT, corpus, mode],
            capture_output=True,
            text=True,
            env=env,
            cwd=repo,
            timeout=600,
        )
        assert proc.returncode == 0, (
            f"{mode} failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
        )
        out.append(proc.stdout)
    adopted = [l for l in out[1].splitlines() if l.startswith("ADOPTED ")]
    assert adopted, out[1][-2000:]
    name, rows = adopted[-1][len("ADOPTED "):].split(" ", 1)
    assert name.endswith("_streamed")
    assert rows == repr([(1, "a"), (2, "b")])


def test_stale_seed_marker_is_swept_and_rebuilt(spark, tmp_path):
    """A seed whose corpus has changed must NOT be adopted: the marker
    (and, with no catalog entry claiming it, the published table's
    directory) is swept and the landing rebuilt from the new corpus."""
    import os

    from data_engineering_project_spotify_app_spark.sources import bucketed

    corpus = str(tmp_path / "corpus_stale")
    _write_corpus(spark, corpus, [(1, "a")])

    def build():
        return spark.read.parquet(f"{corpus}/data.parquet")

    name = bucketed.landing_table_name("stale_probe", corpus) + "_streamed"
    bucketed.land_bucketed(build(), name, "k", 2)
    bucketed.seed_landing(spark, corpus, "stale_probe", name)
    marker = bucketed._seed_marker_path(spark, "stale_probe", corpus)
    assert os.path.isfile(marker)
    # corpus regenerated; simulate a fresh process (memo gone, marker
    # NOT — invalidate_landings would remove it, a process death won't)
    _write_corpus(spark, corpus, [(9, "z")])
    spark.sql(f"DROP TABLE {name}")  # managed drop removes dir + entry
    key = ("stale_probe", corpus, bucketed._warehouse(spark))
    del bucketed._LANDED[key]
    got = bucketed.landed_frame(spark, corpus, "stale_probe", "k", build)
    assert [tuple(r) for r in got.collect()] == [(9, "z")]
    assert not bucketed._LANDED[key][0].endswith("_streamed")
    assert not os.path.isfile(marker)  # stale marker swept


def test_landed_signatures_equal_derived(spark, sf_dir):
    from data_engineering_project_spotify_app_spark.tables import table

    landed = sorted(
        tuple(r) for r in dedup._minhash_signatures(spark, sf_dir).collect()
    )
    derived = sorted(
        tuple(r)
        for r in dedup.minhash_signatures_df(
            table(spark, sf_dir, "documents").select("doc_id", "text")
        ).collect()
    )
    assert landed == derived and landed


def test_reused_pid_claim_is_not_a_live_claimant(tmp_path):
    """A sentinel whose pid is alive but whose recorded start time does
    not match that pid's CURRENT start time is a reused pid: the
    original claimant is gone, so the claim must neither block the
    orphan sweep nor survive the reap (ADVICE r11 item 1 — previously
    a stale sentinel + pid reuse wedged the warehouse forever).

    Hardened per ADVICE r12: the mismatching token is DERIVED from pid
    1's current token (+1 — can never coincide, even in a container
    where the test runner's init is pid 1 with an early start time),
    and the probe runs against a throwaway tmp_path warehouse via a
    conf stub, never mutating the shared session warehouse's claims
    dir under a concurrently-running process."""
    import os

    import pytest

    from data_engineering_project_spotify_app_spark.sources import bucketed

    tok = bucketed._proc_start_token(1)
    if tok is None:
        pytest.skip("/proc/1/stat not readable — no start-time tokens")

    class _StubConf:
        def __init__(self, wh):
            self._wh = wh

        def get(self, key, default=""):
            return self._wh if key == "spark.sql.warehouse.dir" else default

    class _StubSpark:
        def __init__(self, wh):
            self.conf = _StubConf(wh)

    stub = _StubSpark(str(tmp_path / "wh"))
    claims = os.path.join(bucketed._warehouse_path(stub), "_graft_live")
    os.makedirs(claims, exist_ok=True)
    sentinel = os.path.join(claims, "1")  # pid 1: alive, never us
    with open(sentinel, "w") as f:
        f.write(str(int(tok) + 1))  # guaranteed != pid 1's real token
    mine = os.path.join(claims, str(os.getpid()))
    try:
        assert bucketed._live_foreign_claimants(stub) == []
        bucketed._claim_warehouse(stub)  # reaps reused-pid sentinels
        assert not os.path.exists(sentinel)
    finally:
        bucketed._MY_CLAIM_FILES.discard(mine)
        if os.path.exists(sentinel):
            os.remove(sentinel)


def test_claim_sentinel_stamps_start_time_and_releases(spark):
    """The sentinel body records our kernel start time (what makes pid
    reuse detectable) and _release_own_claims — the registered atexit
    hook — removes it, so a clean exit leaves no claim behind."""
    import os

    from data_engineering_project_spotify_app_spark.sources import bucketed

    bucketed._claim_warehouse(spark)
    mine = os.path.join(
        bucketed._warehouse_path(spark), "_graft_live", str(os.getpid())
    )
    assert os.path.isfile(mine)
    want = bucketed._proc_start_token(os.getpid())
    if want is not None:
        with open(mine) as f:
            assert f.read().strip() == want
    assert mine in bucketed._MY_CLAIM_FILES
    bucketed._release_own_claims()
    assert not os.path.exists(mine)
    assert mine not in bucketed._MY_CLAIM_FILES


_CLAIM_EXIT_SCRIPT = """
import os, sys
sys.path.insert(0, ".")
from data_engineering_project_spotify_app_spark.sources import bucketed

class _Conf:
    def get(self, k, d=None):
        return sys.argv[1]

class _Spark:
    conf = _Conf()

bucketed._claim_warehouse(_Spark())
p = os.path.join(sys.argv[1], bucketed._CLAIMS_DIR, str(os.getpid()))
assert os.path.isfile(p)
print("PID", os.getpid())
"""


def test_clean_process_exit_leaves_no_sentinel(tmp_path):
    """Cross-process form of the atexit contract: a process that claims
    a DURABLE shared warehouse and exits cleanly removes its own
    sentinel (session.py's atexit only rmtree's the /tmp per-pid
    warehouse — ADVICE r11: durable warehouses used to keep the claim
    forever)."""
    import os
    import subprocess
    import sys

    wh = str(tmp_path / "shared_wh")
    os.makedirs(wh, exist_ok=True)
    proc = subprocess.run(
        [sys.executable, "-c", _CLAIM_EXIT_SCRIPT, wh],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr
    pid = proc.stdout.split()[-1]
    assert not os.path.exists(os.path.join(wh, "_graft_live", pid))


def test_invalidate_landings_sweeps_memoized_warehouse(spark, tmp_path):
    """The marker glob must cover the warehouses recorded in the keys
    being invalidated, not only the active session's warehouse (ADVICE
    r11 item 2): a marker under a DIFFERENT (memoized) warehouse is
    still swept."""
    import json
    import os

    from data_engineering_project_spotify_app_spark.sources import bucketed

    corpus = str(tmp_path / "memo_corpus")
    _write_corpus(spark, corpus, [(1, "a")])
    other_wh = str(tmp_path / "other_wh")
    marker = os.path.join(
        other_wh,
        "_graft_seeds",
        bucketed.landing_table_name("memo_probe", corpus) + ".json",
    )
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as f:
        json.dump({"table": "t", "fp": "x", "ddl": "CREATE ..."}, f)
    bucketed._LANDED[("memo_probe", corpus, other_wh)] = ("t", "x")
    bucketed.invalidate_landings(corpus)
    assert not os.path.isfile(marker)
    assert ("memo_probe", corpus, other_wh) not in bucketed._LANDED


def test_invalidate_landings_explicit_warehouse(spark, tmp_path):
    """warehouse= names a warehouse that is neither memoized nor the
    active session's — e.g. a sessionless maintenance script sweeping a
    durable shared warehouse — and its markers are still dropped."""
    import json
    import os

    from data_engineering_project_spotify_app_spark.sources import bucketed

    corpus = str(tmp_path / "explicit_corpus")
    _write_corpus(spark, corpus, [(1, "a")])
    other_wh = str(tmp_path / "explicit_wh")
    marker = os.path.join(
        other_wh,
        "_graft_seeds",
        bucketed.landing_table_name("explicit_probe", corpus) + ".json",
    )
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as f:
        json.dump({"table": "t", "fp": "x", "ddl": "CREATE ..."}, f)
    assert ("explicit_probe", corpus, other_wh) not in bucketed._LANDED
    bucketed.invalidate_landings(corpus, warehouse=other_wh)
    assert not os.path.isfile(marker)


def test_landed_word_fingerprints_equal_derived(spark, sf_dir):
    """The word-gram winnowing fingerprint landing serves exactly the
    rows the frame-parametrized derivation computes (the derive-once
    contract, word twin of the char landing)."""
    from data_engineering_project_spotify_app_spark.tables import (
        table_parallel,
    )

    landed = sorted(
        tuple(r)
        for r in dedup._winnow_word_fingerprints(spark, sf_dir).collect()
    )
    derived = sorted(
        tuple(r)
        for r in dedup.winnow_word_fingerprints_df(
            table_parallel(spark, sf_dir, "documents")
        ).collect()
    )
    assert landed == derived and landed


def test_concurrent_same_landing_builds_exactly_once(spark, tmp_path):
    """The concurrent-build race pin (VERDICT r13 item 1): N threads
    touching the SAME cold landing must produce exactly ONE build (the
    per-landing lock in landed_frame), and every thread must read the
    correct rows — never a torn/overwritten table."""
    import threading

    from data_engineering_project_spotify_app_spark.sources import bucketed

    corpus = str(tmp_path / "race_corpus")
    _write_corpus(spark, corpus, [(1, "a"), (2, "b"), (3, "c")])

    builds = []  # list.append is GIL-atomic — a safe cross-thread counter
    barrier = threading.Barrier(8)

    def build():
        builds.append(1)
        return spark.read.parquet(f"{corpus}/data.parquet")

    results: list[object] = [None] * 8

    def worker(i: int) -> None:
        barrier.wait()  # maximize the race window: all enter together
        try:
            df = bucketed.landed_frame(
                spark, corpus, "race_probe", "k", build
            )
            results[i] = sorted(tuple(r) for r in df.collect())
        except Exception as e:  # noqa: BLE001
            results[i] = e

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    expected = [(1, "a"), (2, "b"), (3, "c")]
    assert results == [expected] * 8
    assert len(builds) == 1


def test_build_all_landings_concurrent_and_warm(spark, sf_dir):
    """build_all_landings builds every registered landing (cold) and is
    a pure memo pass when warm; the landed tables match what each
    builder serves individually."""
    from data_engineering_project_spotify_app_spark.sources import bucketed

    names = [n for n, _ in bucketed.landing_builders()]
    cold = bucketed.build_all_landings(spark, sf_dir, max_workers=4)
    assert sorted(cold) == sorted(names)
    # every landing is now registered in the catalog under its
    # corpus-digested name
    for n in names:
        assert spark.catalog.tableExists(
            bucketed.landing_table_name(n, sf_dir)
        )
    # warm call: memo hits only — no landing table is rewritten (same
    # table name resolves, rows stable for a spot-checked landing)
    before = dedup._minhash_signatures(spark, sf_dir).count()
    warm = bucketed.build_all_landings(spark, sf_dir, max_workers=4)
    assert sorted(warm) == sorted(names)
    assert dedup._minhash_signatures(spark, sf_dir).count() == before


def _sizing_conf(spark) -> tuple[int, int, int]:
    """(defaultParallelism, maxPartitionBytes, maxBuckets) as the
    session's SQL conf resolves them."""
    conf = spark._jsparkSession.sessionState().conf()
    return (
        spark.sparkContext.defaultParallelism,
        conf.filesMaxPartitionBytes(),
        conf.bucketingMaxBuckets(),
    )


def test_corpus_buckets_small_corpus_is_one_per_core(spark, sf_dir):
    from data_engineering_project_spotify_app_spark.sources import bucketed

    cores, split, _ = _sizing_conf(spark)
    assert bucketed.corpus_stat(sf_dir)[1] < split
    assert bucketed.corpus_buckets(spark, sf_dir) == cores


def test_corpus_buckets_large_corpus_is_one_per_split(
    spark, sf_dir, monkeypatch
):
    """A corpus of (3 × cores + ½) splits' bytes gets 3 × cores + 1
    buckets — the byte total is faked, no large file is written."""
    from data_engineering_project_spotify_app_spark.sources import bucketed

    cores, split, _ = _sizing_conf(spark)
    nbytes = 3 * cores * split + split // 2
    monkeypatch.setattr(bucketed, "corpus_stat", lambda _p: (1, nbytes, 0))
    assert bucketed.corpus_buckets(spark, sf_dir) == 3 * cores + 1


def test_corpus_buckets_capped_at_max_buckets(spark, sf_dir, monkeypatch):
    from data_engineering_project_spotify_app_spark.sources import bucketed

    _, split, cap = _sizing_conf(spark)
    monkeypatch.setattr(
        bucketed, "corpus_stat", lambda _p: (1, (cap + 5) * split, 0)
    )
    assert bucketed.corpus_buckets(spark, sf_dir) == cap


def test_corpus_landings_share_bucket_count_and_join_exchange_free(
    spark, sf_dir, tmp_path
):
    """minhash_signatures and word_bigrams of one corpus land with the
    same Num Buckets (corpus_buckets'), so their doc_id join reads
    co-located buckets: no Exchange in the executed plan (broadcast off
    so a broadcast cannot stand in for the elision)."""
    import os
    import shutil

    from data_engineering_project_spotify_app_spark.sources import bucketed

    corpus = str(tmp_path / "bucket_corpus")
    os.makedirs(corpus)
    shutil.copy(f"{sf_dir}/documents.parquet", corpus)
    sig = dedup._minhash_signatures(spark, corpus)
    bg = dedup._bigram_grams(spark, corpus)

    def num_buckets(prefix: str) -> int:
        name = bucketed.landing_table_name(prefix, corpus)
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        (n,) = [
            r["data_type"] for r in rows if r["col_name"] == "Num Buckets"
        ]
        return int(n)

    want = bucketed.corpus_buckets(spark, corpus)
    assert num_buckets("minhash_signatures") == want
    assert num_buckets("word_bigrams") == want
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = sig.join(bg, "doc_id")
        n = len(joined.collect())
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert n == sig.count() > 0
    assert "Exchange" not in plan, plan
    for prefix in ("minhash_signatures", "word_bigrams"):
        name = bucketed.landing_table_name(prefix, corpus)
        bucketed.drop_landed(spark, name)
    bucketed.invalidate_landings(corpus)
