"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It starts a local Spark session on every
available core and prepares the workload's seeded inputs, five times
(``setup_s`` is the median; the first start also launches the JVM). It
then runs the workload's untimed warm-up passes, the first of which
checks every output, and times whole passes until ``--seconds`` have
elapsed (at least the workload's ``min_timed_passes``). With
``--trace 1`` it then times as many traced passes and reports the
per-layer metrics and the tracing overhead instead. The last stdout line
is the result JSON; the line before it records the environment. On every
way out it stops Spark and its JVM and waits until each process they
started has ended.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import layers, workloads  # noqa: E402
from perfbench.trace import RssSampler, Tracer, tree_cpu_s, tree_pids  # noqa: E402

SETUP_REPEATS = 5


def _args(argv=None):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test input sizes")
    p.add_argument(
        "--corrupt-expectation",
        action="store_true",
        help="self-test: perturb one expectation so the check must fail",
    )
    return p.parse_args(argv)


@dataclass
class Pass:
    seconds: float
    cpu_s: float
    load_s: float
    ops: list[tuple[str, float]]


def _timed(wl, run, seconds: float) -> list[Pass]:
    """Whole passes until ``seconds`` have elapsed, and at least the
    workload's ``min_timed_passes``."""
    passes, start = [], time.perf_counter()
    while len(passes) < wl.min_timed_passes or time.perf_counter() - start < seconds:
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with run.tracer.span("pass", "pass"):
            res = wl.run_pass(run)
        passes.append(Pass(time.perf_counter() - t0, tree_cpu_s() - c0, res.load_s, res.ops))
    return passes


def _started(pid: int) -> bytes | None:
    """The process's start time, or None once it has ended (a zombie
    has ended)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            fields = f.read().rsplit(b")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in (b"Z", b"X") else fields[19]


def _stop_spark(spark) -> None:
    """Stop Spark, then its JVM, and wait until every process they
    started (the JVM, the Python worker daemon and its forks) has ended.
    The JVM would otherwise only notice that its stdin closed after this
    process exits, and outlive it."""
    from pyspark import SparkContext

    me = os.getpid()
    procs = {pid: _started(pid) for pid in tree_pids(me) if pid != me}
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if gateway is not None:
            gateway.shutdown()  # close py4j's connections before the JVM goes
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits on EOF on its stdin
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        procs.update((pid, _started(pid)) for pid in tree_pids(me) if pid not in procs and pid != me)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            deadline = time.monotonic() + 10
            alive = [p for p, t in procs.items() if t is not None and _started(p) == t]
            for pid in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            while alive and time.monotonic() < deadline:
                time.sleep(0.05)
                alive = [p for p in alive if _started(p) == procs[p]]
            if not alive:
                break


def main(argv=None) -> int:
    a = _args(argv)
    # the engine comes from the checkout; without it, fail before writing
    from data_engineering_project_spotify_app_spark.operators import registry
    from data_engineering_project_spotify_app_spark.session import get_spark

    registry.load_all_modules()
    wl = workloads.make(a.workload, tiny=a.tiny)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    # pinned environment: every core, one client thread, and a fresh
    # warehouse, local dir and temp dir per process
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    spark = run = None
    try:
        # memory is a per-layer metric: sample it in traced runs only, so
        # the sampler's /proc scans stay out of the untraced pass_cpu_s
        with RssSampler() if a.trace else contextlib.nullcontext() as rss:
            setups, sessions = [], []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = get_spark(app_name=f"perfbench-{a.workload}", extra_conf=conf)
                sessions.append(time.perf_counter() - t0)
                sizes = wl.prepare(os.path.join(work, "inputs"), a.seed)
                setups.append(time.perf_counter() - t0)
            run = workloads.Runner(spark, Tracer(spark, False, "untraced"))
            wl.expectations()
            if a.corrupt_expectation:
                workloads.corrupt_one(wl)

            warm_s = []
            for i in range(wl.warm_passes):
                t0 = time.perf_counter()
                wl.run_pass(run, check=(i == 0))
                warm_s.append(time.perf_counter() - t0)
            passes = _timed(wl, run, a.seconds)
            traced, tracer = [], None
            if a.trace:
                tracer = Tracer(spark, True, f"{a.workload}-{a.seed}")
                run.tracer = tracer
                traced = _timed(wl, run, a.seconds)
                tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{a.workload}-{a.seed}.json"))
            jvm = spark.sparkContext._jvm
            env = {
                "cores": cores,
                "spark": spark.version,
                "java": jvm.java.lang.System.getProperty("java.version"),
                "python": platform.python_version(),
                "seed": a.seed,
                "inputs": sizes,
            }
    except workloads.CheckFailed as e:
        failures = run.failures if run else []
        print(json.dumps({"environment": {"error": str(e), "failures": failures}}))
        print(json.dumps({"correct": False, "attempted": max(1, run.attempted if run else 0),
                          "failed": max(1, len(failures)), "metrics": {}}))
        return 1
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    pass_s = statistics.median(p.seconds for p in passes)
    if a.trace:
        metrics = layers.per_layer(tracer, traced, sessions, cores, wl, rss.peaks_mb())
    else:
        op_s = [statistics.fmean(dt for _, dt in p.ops) for p in passes]
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "pass_s": (pass_s, "s"),
            "pass_cpu_s": (statistics.median(p.cpu_s for p in passes), "s"),
            "op_mean_s": (statistics.median(op_s), "s"),
        }
    env.update(
        setup_runs_s=setups,
        session_s=sessions,
        warm_passes_s=warm_s,
        passes_s=[p.seconds for p in passes],
        passes_cpu_s=[p.cpu_s for p in passes],
        load_s=[p.load_s for p in passes],
        ops_s=[p.ops for p in passes],
        traced_passes_s=[p.seconds for p in traced],
        mem_peak_mb=rss.peaks_mb() if rss else None,
        failures=run.failures,
        mismatches=run.mismatches,
    )
    print(json.dumps({"environment": env}))
    correct = not run.mismatches and not run.failures
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
