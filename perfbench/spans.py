"""Spans, Spark status-store readings and machine readings, all taken
from outside the program.

- ``Tracer`` records one span per layer boundary the benchmark calls
  into (name, start, end, parent, operation id), keeps them in memory and
  writes them out as JSON at the end of a run. A disabled tracer records
  nothing, so untraced runs pay only a ``perf_counter`` per operation.
- ``StageProbe`` tags each operation's Spark jobs with a job group and,
  after the operation, reads their stages from the JVM status store
  (``sc._jsc.sc().statusStore()``, served with the UI off): jobs, stages,
  tasks, executor run/CPU/GC time, input/shuffle/spill bytes, and the
  idle gap, the part of the operation's wall time not covered by any
  active stage.
- ``ExtMeter`` reads the external core load (system busy CPU minus this
  process tree's CPU, per wall second) so a contended pass is visible;
  it is ``bench.py``'s meter. ``cpu_probe_s`` times a fixed loop, which
  shows a slow host that the external load does not.
- ``tree_peak_rss_mb`` sums the peak RSS of the Python driver, the JVM
  and the Python workers, per command name, since ``reset_peak_rss``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

import bench


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder. ``span(name)`` nests under the innermost
    open span; an ``op=True`` span starts a new operation id that its
    descendants share."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    @contextmanager
    def span(self, name: str, op: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op:
            self._next_op += 1
            op_id = self._next_op
        else:
            op_id = parent.op if parent else None
        s = Span(
            len(self.spans), name, time.time(), 0.0,
            parent.id if parent else None, op_id,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """The span's duration minus the part of it its children cover."""
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - covered(kids, span.start, span.end)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh)


SPARK_FIELDS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "idle_gap_s",
)


class StageProbe:
    """Per-operation Spark metrics from the status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    def begin(self, name: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name)
        return group

    def end(self, group: str, wall: tuple[float, float]) -> dict:
        from py4j.protocol import Py4JJavaError

        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        spans: list[tuple[float, float]] = []
        jobs = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sub, comp = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and comp.isDefined():
                spans.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        lo, hi = wall
        out["idle_gap_s"] = (hi - lo) - covered(spans, lo, hi)
        return out


def _tree(pid: int) -> list[int]:
    """``pid`` and its live descendants."""
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                s = f.read()
        except OSError:
            continue  # exited meanwhile
        kids.setdefault(int(s[s.rindex(b")") + 2:].split()[1]), []).append(int(p))
    out, stack = [], [pid]
    while stack:
        q = stack.pop()
        out.append(q)
        stack.extend(kids.get(q, []))
    return out


def reset_peak_rss() -> None:
    """Reset the peak RSS (VmHWM) of every process in this process tree
    to its current RSS, so the next reading covers only what follows."""
    for p in _tree(os.getpid()):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue  # exited meanwhile


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of every process in this process tree, summed
    per command name (python3, java, ...), in MB."""
    out: dict[str, float] = {}
    for p in _tree(os.getpid()):
        try:
            with open(f"/proc/{p}/status", "rb") as f:
                status = f.read()
        except OSError:
            continue
        comm = status[6:status.index(b"\n")].strip().decode(errors="replace")
        i = status.find(b"VmHWM:")
        if i >= 0:
            kb = int(status[i + 6:status.index(b"kB", i)])
            out[comm] = out.get(comm, 0.0) + kb / 1024.0
    return out


def cpu_probe_s() -> float:
    """Wall time of a fixed single-threaded loop. The host's speed can
    drop with no external load visible in ``/proc/stat`` (co-tenants on
    the same physical cores), so a slow reading marks such a window."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t0


class ExtMeter(bench.ExtMeter):
    """``bench.py``'s external core meter (system busy CPU minus this
    process tree's CPU, per wall second), which also returns the tree's
    own CPU seconds."""

    def stop(self) -> tuple[float, float]:
        """(external cores, this process tree's CPU seconds) since start."""
        own = (bench._tree_jiffies(self._pid) - self._t0) / self._hz
        return super().stop(), own
