"""Per-layer metrics from a traced run.

Every span the workloads open carries a layer name; the jobs it fired
ran under its own Spark job group, so summing a layer's spans never
counts a job twice. Times and counts are per traced pass (or per op
where the name says so). Metrics of a layer the workload does not
exercise read 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import self_times
from perfbench.workloads import LANDINGS

# operator modules the curation mix draws from (the registering
# function's __module__, last component)
MODULES = ("dedup", "diagnostics", "textops", "tpch")

_EXEC = (
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.executor_run_s", "s"),
    ("exec.executor_cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.slot_util", "ratio"),
)

METRICS: tuple[tuple[str, str], ...] = (
    (("session.start_s", "s"), ("session.restart_s", "s"))
    + (
        ("ingest.stage_s", "s"),
        ("ingest.load_s", "s"),
        ("ingest.jobs", "count"),
        ("ingest.bytes_written", "bytes"),
        ("ingest.bytes_per_input_byte", "ratio"),
        ("ingest.rows_quarantined", "count"),
        ("pipeline.construct_s", "s"),
        ("pipeline.exec_s", "s"),
        ("pipeline.sink_s", "s"),
        ("pipeline.jobs_per_op", "count"),
        ("pipeline.stages_per_op", "count"),
        ("pipeline.input_bytes_per_op", "bytes"),
        ("construct.s", "s"),
        ("construct.jobs", "count"),
        ("construct.share_of_pass", "ratio"),
    )
    + _EXEC
    + tuple(
        (f"{m}.{k}", u)
        for m in MODULES
        for k, u in (
            ("construct_s", "s"),
            ("construct_jobs", "count"),
            ("exec_s", "s"),
            ("shuffle_bytes", "bytes"),
        )
    )
    + tuple((f"landings.{n}_s", "s") for n in LANDINGS)
    + (
        ("landings.jobs", "count"),
        ("landings.shuffle_write_bytes", "bytes"),
        ("landings.bytes_stored", "bytes"),
        ("work.jobs", "count"),
        ("work.stages", "count"),
        ("work.tasks", "count"),
        ("work.shuffle_bytes", "bytes"),
        ("work.output_rows", "count"),
        ("mem.peak_mb", "MB"),
        ("mem.driver_peak_mb", "MB"),
        ("mem.jvm_peak_mb", "MB"),
        ("mem.workers_peak_mb", "MB"),
        ("pass.self_s", "s"),
        ("trace.pass_s", "s"),
        ("trace.overhead_s", "s"),
        ("trace.overhead_share", "ratio"),
    )
)


def per_layer(tracer, traced_passes, sessions, cores, wl, mem) -> dict:
    """``sessions``: seconds of each set-up's session start, the first of
    which launched the JVM; ``mem``: RssSampler.peaks_mb() of the run."""
    n = len(traced_passes)
    spans = tracer.spans
    selfs = self_times(spans)
    out = dict.fromkeys((name for name, _ in METRICS), 0.0)

    def pick(pred):
        return [s for s in spans if pred(s.layer)]

    def total(ss, key):
        if key == "dur":
            return sum(s.dur for s in ss)
        if key == "jobs":
            return sum(s.jobs for s in ss)
        if key == "stages":
            return sum(s.stages for s in ss)
        return sum(s.counters.get(key, 0) for s in ss)

    out["session.start_s"] = sessions[0]
    out["session.restart_s"] = statistics.median(sessions[1:])

    stage, load = pick(lambda l: l == "ingest.stage"), pick(lambda l: l == "ingest.load")
    ingest = stage + load
    out["ingest.stage_s"] = total(stage, "dur") / n
    out["ingest.load_s"] = total(load, "dur") / n
    out["ingest.jobs"] = total(ingest, "jobs") / n
    out["ingest.bytes_written"] = total(ingest, "output_bytes") / n
    in_bytes = getattr(wl, "input_bytes", 0)
    if in_bytes:
        out["ingest.bytes_per_input_byte"] = out["ingest.bytes_written"] / in_bytes
    out["ingest.rows_quarantined"] = getattr(wl, "quarantined", 0)

    requests = pick(lambda l: l == "request")
    if requests:
        k = len(requests)
        pipe = pick(lambda l: l.startswith("pipeline.") or l == "request")
        for part in ("construct", "exec", "sink"):
            out[f"pipeline.{part}_s"] = total(pick(lambda l, p=part: l == f"pipeline.{p}"), "dur") / k
        out["pipeline.jobs_per_op"] = total(pipe, "jobs") / k
        out["pipeline.stages_per_op"] = total(pipe, "stages") / k
        out["pipeline.input_bytes_per_op"] = total(pipe, "input_bytes") / k

    cons = pick(lambda l: l.startswith("construct."))
    exe = pick(lambda l: l.startswith("exec."))
    out["construct.s"] = total(cons, "dur") / n
    out["construct.jobs"] = total(cons, "jobs") / n
    out["construct.share_of_pass"] = out["construct.s"] / statistics.median(
        p.seconds for p in traced_passes
    )
    out["exec.s"] = total(exe, "dur") / n
    out["exec.jobs"] = total(exe, "jobs") / n
    out["exec.stages"] = total(exe, "stages") / n
    out["exec.tasks"] = total(exe, "tasks") / n
    out["exec.executor_run_s"] = total(exe, "executor_run_ms") / 1e3 / n
    out["exec.executor_cpu_s"] = total(exe, "executor_cpu_ns") / 1e9 / n
    out["exec.gc_s"] = total(exe, "gc_ms") / 1e3 / n
    out["exec.shuffle_read_bytes"] = total(exe, "shuffle_read_bytes") / n
    out["exec.shuffle_write_bytes"] = total(exe, "shuffle_write_bytes") / n
    out["exec.spill_bytes"] = total(exe, "spill_bytes") / n
    if out["exec.s"]:
        out["exec.slot_util"] = out["exec.executor_run_s"] / (out["exec.s"] * cores)
    for m in MODULES:
        c = pick(lambda l, m=m: l == f"construct.{m}")
        e = pick(lambda l, m=m: l == f"exec.{m}")
        out[f"{m}.construct_s"] = total(c, "dur") / n
        out[f"{m}.construct_jobs"] = total(c, "jobs") / n
        out[f"{m}.exec_s"] = total(e, "dur") / n
        out[f"{m}.shuffle_bytes"] = total(e, "shuffle_write_bytes") / n

    lands = pick(lambda l: l == "landing")
    for name in LANDINGS:
        out[f"landings.{name}_s"] = total([s for s in lands if s.name == name], "dur") / n
    lands_all = lands + pick(lambda l: l == "landings")
    out["landings.jobs"] = total(lands_all, "jobs") / n
    out["landings.shuffle_write_bytes"] = total(lands_all, "shuffle_write_bytes") / n
    out["landings.bytes_stored"] = total(lands_all, "output_bytes") / n

    out["work.jobs"] = total(spans, "jobs") / n
    out["work.stages"] = total(spans, "stages") / n
    out["work.tasks"] = total(spans, "tasks") / n
    out["work.shuffle_bytes"] = total(spans, "shuffle_write_bytes") / n
    out["work.output_rows"] = getattr(wl, "output_rows", 0)
    for part, v in mem.items():
        out["mem.peak_mb" if part == "total" else f"mem.{part}_peak_mb"] = v
    out["pass.self_s"] = sum(selfs[s.span_id] for s in pick(lambda l: l == "pass")) / n

    # the tracer's own bookkeeping (job groups, listener-bus drains and
    # status-store reads), timed around every span
    traced_s = statistics.median(p.seconds for p in traced_passes)
    out["trace.pass_s"] = traced_s
    out["trace.overhead_s"] = sum(s.trace_s for s in spans) / n
    out["trace.overhead_share"] = out["trace.overhead_s"] / traced_s
    units = dict(METRICS)
    return {k: (v, units[k]) for k, v in out.items()}
