"""Self-tests of the benchmark at tiny scale (a 40-artist catalog; a
2-shard corpus of 100 documents per shard at sf0.001).

    python3 -m pytest perfbench -q -p no:cacheprovider

Each test runs ``perfbench/run.py`` the way the benchmark is run, in a subprocess
from the checkout root, and reads the result line it prints.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers, workloads  # noqa: E402
from perfbench.trace import Span, self_times, tree_pids  # noqa: E402

BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _live_children(pid: int) -> list[int]:
    """The process's descendants that have not ended (zombies have)."""
    out = []
    for p in tree_pids(pid)[1:]:
        try:
            if open(f"/proc/{p}/stat", "rb").read().rsplit(b")", 1)[1].split()[0] != b"Z":
                out.append(p)
        except OSError:
            continue
    return out


def _run(workload: str, *extra: str, trace: int = 0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7"]
    cmd += ["--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    lines = []
    with subprocess.Popen(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True
    ) as proc:
        timer = threading.Timer(600, proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                lines.append(line)
                if line.startswith('{"correct"'):
                    # printed after Spark stopped, while run.py still runs:
                    # the JVM and the Python workers must have ended by now
                    assert not _live_children(proc.pid)
            code = proc.wait()
        finally:
            timer.cancel()
    return code, json.loads(lines[-2])["environment"], json.loads(lines[-1])


def test_benchmark_json_matches_the_metrics_emitted():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(workloads.WORKLOADS)
    assert {(m["name"], m["unit"]) for m in BENCHMARK["per_layer"]} == set(layers.METRICS)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_every_end_to_end_metric_is_emitted_with_its_unit(workload):
    code, env, res = _run(workload)
    assert code == 0, env
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert env["cores"] >= 1 and env["inputs"]


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_a_corrupted_expectation_fails_the_check(workload):
    code, env, res = _run(workload, "--corrupt-expectation")
    assert code != 0
    assert res["correct"] is False and env["mismatches"]


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_traced_run_reports_every_layer_and_self_times_fit_the_pass(workload):
    code, env, res = _run(workload, trace=1)
    assert code == 0, env
    want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert 0 < m["trace.overhead_s"] < m["trace.pass_s"]
    spans = json.load(open(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-7.json")))
    assert spans
    spans = [Span(**s) for s in spans]
    selfs = self_times(spans)
    roots = [s for s in spans if s.layer == "pass"]
    assert len(roots) == len(env["traced_passes_s"])
    for root, pass_s in zip(roots, env["traced_passes_s"]):
        inside = [s for s in spans if root.start <= s.start and s.end <= root.end]
        assert sum(selfs[s.span_id] for s in inside) <= pass_s
