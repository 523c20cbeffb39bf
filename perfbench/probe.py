"""Probes the benchmark takes around its calls into the program: Spark
status-store deltas, spans, and process memory. Nothing here reaches
inside ``go_streams_spark``; every number is read at a call boundary.

Status-store work is attributed by job-id and stage-id deltas: the
harness issues one call at a time from one thread, so every job and
stage created between two marks belongs to the call between them. Job
groups are not used, because work a query launches from its own thread
pool does not carry the caller's job group.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "wait_ms",
            "job_ms", "shuffle_write_bytes", "spill_bytes")


class StatusStore:
    """Job/stage deltas from the driver's ``AppStatusStore`` (populated
    with ``spark.ui.enabled=false`` too)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def _drain(self) -> None:
        # status events arrive on an async listener bus; wait until the
        # store has seen the end of every job the last call ran
        self._bus.waitUntilEmpty()

    def _jobs(self):
        return self._store.jobsList(None)

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    @staticmethod
    def _newer(seq, key, mark: int):
        """Items of a status-store list newer than ``mark``; the store
        lists newest first, so stop at the first item at or below it."""
        for i in range(seq.size()):
            item = seq.apply(i)
            if key(item) <= mark:
                return
            yield item

    def mark(self) -> tuple[int, int]:
        self._drain()
        jobs, stages = self._jobs(), self._stages()
        return (jobs.apply(0).jobId() if jobs.size() else -1,
                stages.apply(0).stageId() if stages.size() else -1)

    def since(self, mark: tuple[int, int]) -> dict[str, int]:
        """Counters summed over the jobs and stages created after ``mark``.
        ``wait_ms`` is executor run time minus executor CPU time: time a
        task held a core without computing (Python workers, I/O, locks).
        ``job_ms`` is the wall time during which at least one job ran."""
        self._drain()
        job_mark, stage_mark = mark
        out = dict.fromkeys(COUNTERS, 0)
        spans = []
        for j in self._newer(self._jobs(), lambda j: j.jobId(), job_mark):
            out["jobs"] += 1
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime(), end.get().getTime()))
        out["job_ms"] = _union_ms(spans)
        cpu_ns = 0
        for s in self._newer(self._stages(), lambda s: s.stageId(), stage_mark):
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["run_ms"] += s.executorRunTime()
            cpu_ns += s.executorCpuTime()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["cpu_ms"] = cpu_ns // 1_000_000
        out["wait_ms"] = max(out["run_ms"] - out["cpu_ms"], 0)
        return out


def _union_ms(spans: list[tuple[int, int]]) -> int:
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    trace: str
    span: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans (trace id, name, start, end, parent; times in epoch
    seconds, like streaming progress), written out once at the end of
    the run. A disabled tracer records nothing and
    costs one branch per boundary. ``overhead_s`` accumulates the time
    the tracer spends on its own bookkeeping and status-store reads."""

    def __init__(self, enabled: bool, status: StatusStore | None = None):
        self.enabled = enabled
        self.status = status
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.trace = "setup"

    @contextmanager
    def span(self, name: str, counters: bool = False, **attrs):
        """Record a span around the block. With ``counters``, the span
        also carries the job/stage counters of the block."""
        if not self.enabled:
            yield attrs
            return
        t0 = time.time()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        mark = self.status.mark() if counters else None
        self._stack.append(sid)
        t1 = time.time()
        try:
            yield attrs
        finally:
            t2 = time.time()
            self._stack.pop()
            if mark is not None:
                attrs.update(self.status.since(mark))
            self.spans.append(Span(self.trace, sid, parent, name, t1, t2, attrs))
            self.overhead_s += (t1 - t0) + (time.time() - t2)

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        """Record an already-finished interval (e.g. a micro-batch read
        back from streaming progress)."""
        sid = next(self._ids)
        if self.enabled:
            self.spans.append(Span(self.trace, sid, parent, name, start, end, attrs))
        return sid

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def self_and_jvm_pids(spark) -> list[int]:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return [os.getpid()] + ([proc.pid] if proc is not None else [])


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds (user and system, with those of reaped children) of
    ``root`` and every live process below it -- the driver, its JVM and
    the JVM's Python workers -- and, within that, of the JVM's JIT
    compiler threads. Time the host steals from the VM is in neither."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            fields = _stat_fields(f"/proc/{name}/stat")
        except OSError:
            continue
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(v) for v in fields[11:15])
    total = jit = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
            jit += _jit_ticks(pid)
    return total / _CLK_TCK, jit / _CLK_TCK


def _stat_fields(path: str) -> list[str]:
    """Fields of a ``stat`` file after the command name."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the HotSpot compiler threads of ``pid`` (none unless
    it is a JVM)."""
    out = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            out += sum(int(v) for v in _stat_fields(f"/proc/{pid}/task/{tid}/stat")[11:13])
        except OSError:
            continue
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")
