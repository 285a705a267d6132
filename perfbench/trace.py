"""Spans, Spark job attribution and resident-memory sampling.

A ``Tracer`` records one span per layer boundary the benchmark crosses.
Each span runs under its own Spark job group, so the jobs it fired are
read back from ``sc.statusTracker()`` and their stage metrics from the
status store (``lastStageAttempt``), which works with the UI disabled.
Spans stay in memory and are written out once, when the run ends.

With tracing off ``span`` only yields: no job groups, no status reads.
A span's own time (``start`` to ``end``) excludes its job-group and
status-read bookkeeping; its footprint in its parent (``open_at`` to
``closed_at``) includes it, and the bookkeeping summed over all spans is
the tracing overhead.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = (
    "tasks",
    "executor_run_ms",
    "executor_cpu_ns",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    open_at: float = 0.0  # before the job group was set
    closed_at: float = 0.0  # after its jobs were read back
    parent: int | None = None
    span_id: int = 0
    run_id: str = ""
    jobs: int = 0
    stages: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def trace_s(self) -> float:
        """Time the tracer spent on this span's bookkeeping."""
        return (self.start - self.open_at) + (self.closed_at - self.end)


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sp = Span(
            name=name,
            layer=layer,
            start=0.0,
            open_at=time.perf_counter(),
            parent=self._stack[-1].span_id if self._stack else None,
            span_id=next(self._ids),
            run_id=self.run_id,
        )
        group = f"{self.run_id}-{sp.span_id}"
        self._stack.append(sp)
        self.sc.setJobGroup(group, f"{layer}:{name}")
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(
                    f"{self.run_id}-{outer.span_id}", f"{outer.layer}:{outer.name}"
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._collect(sp, group)
            sp.closed_at = time.perf_counter()
            self.spans.append(sp)

    def _collect(self, sp: Span, group: str) -> None:
        """Attribute the span's own jobs (not its children's, which ran
        under their own groups) and sum their stage metrics."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            sp.stages += 1
            totals["tasks"] += sd.numTasks()
            totals["executor_run_ms"] += sd.executorRunTime()
            totals["executor_cpu_ns"] += sd.executorCpuTime()
            totals["gc_ms"] += sd.jvmGcTime()
            totals["shuffle_read_bytes"] += sd.shuffleReadBytes()
            totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            totals["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            totals["input_bytes"] += sd.inputBytes()
            totals["output_bytes"] += sd.outputBytes()
        sp.jobs = len(job_ids)
        sp.counters = totals

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover,
    their tracing bookkeeping included."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(kids.get(s.span_id, []), key=lambda c: c.open_at):
            lo, hi = max(c.open_at, cur_end), min(c.closed_at, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.span_id] = s.dur - covered
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM, the Python workers, and children they have reaped). Time the
    hypervisor stole from the machine is not charged to them."""
    total = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                fields = f.read().decode("ascii", "replace").rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total * _TICK_S


def tree_pids(root: int) -> list[int]:
    """``root`` and every process descended from it, ``root`` first."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read().decode("ascii", "replace")
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _mem_kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers it forks), sampled from /proc, in total and
    per part. Python processes count their proportional set size, so the
    pages forked workers share with their daemon count once."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.part_peak_kb = {"driver": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        parts = dict.fromkeys(self.part_peak_kb, 0)
        for pid in tree_pids(me):
            if pid == me:
                part = "driver"
            else:
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        part = "jvm" if f.read().strip() == "java" else "workers"
                except OSError:
                    continue
            if part == "jvm":
                parts[part] += _mem_kb(f"/proc/{pid}/status", "VmRSS:")
            else:
                parts[part] += _mem_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
        self.peak_kb = max(self.peak_kb, sum(parts.values()))
        for k, v in parts.items():
            self.part_peak_kb[k] = max(self.part_peak_kb[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def peaks_mb(self) -> dict[str, float]:
        out = {"total": self.peak_kb / 1024.0}
        out.update((k, v / 1024.0) for k, v in self.part_peak_kb.items())
        return out
