"""Spans, counts and Spark counters recorded from the benchmark's own files.

A :class:`Tracer` wraps a layer's public functions from outside (the program
is not edited) and records one span per call: name, start, end, parent span
and the operation id the call belongs to.  Spans stay in memory and are
written out once, at the end of the run.  :class:`SparkCounters` reads the
exact job, stage and task counts and bytes Spark's status store recorded
for a range of jobs; :class:`CpuClock` reads the CPU time the benchmark
process and the Spark JVM have used; :class:`HostSpeed` times a fixed
reference task, to scale CPU times to a standard host speed.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict

import numpy as np


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 1]) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


class Tracer:
    """In-memory span recorder.  While ``enabled`` is false the wrappers
    call straight through and record nothing.  ``op_id`` names the
    operation (query, request, ingest, DAG run) the spans belong to."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op_counts: list[dict] = []  # exact Spark counts per operation
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op_id: str | None = None

    # -- recording -----------------------------------------------------------

    def begin(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "op": self.op_id,
            }
        )
        self._stack.append(sid)
        return sid

    def end(self, sid: int, failed: bool = False) -> None:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        if failed:
            span["failed"] = True
        self._stack.pop()

    def span(self, name: str):
        return _Span(self, name)

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def note(self, counts: dict) -> None:
        """Record the Spark counts of the current operation."""
        self.op_counts.append({"op": self.op_id, **counts})

    # -- wrapping layer functions from outside ------------------------------

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name`` (or ``name(args, kwargs)`` when callable) while the tracer
        is enabled, and counts ``<layer>.failed`` when the call raises.
        ``on_result(args, kwargs, result)`` sees each result.  Undone by
        :meth:`unwrap_all`."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            label = name(args, kwargs) if callable(name) else name
            sid = tracer.begin(label)
            failed = True
            try:
                result = orig(*args, **kwargs)
                failed = False
            finally:
                tracer.end(sid, failed)
                if failed:
                    tracer.count(label.split(".", 1)[0] + ".failed")
            if on_result is not None:
                on_result(args, kwargs, result)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reporting -----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Sum of self time (duration minus the time covered by child
        spans) per span name."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        ]

    def write(self, path: str) -> None:
        """One JSON line per span, then one per operation's Spark counts."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            for c in self.op_counts:
                fh.write(json.dumps(c) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.sid = None

    def __enter__(self):
        if self.tracer.enabled:
            self.sid = self.tracer.begin(self.name)
        return self

    def __exit__(self, exc_type, exc, tb):
        if self.sid is not None:
            self.tracer.end(self.sid, failed=exc_type is not None)
        return False


class CpuClock:
    """CPU seconds this process and the Spark JVM it launched have spent on
    the workload so far.

    Time the host steals from a virtual machine is not charged to a
    process, so CPU time stays steadier than wall time when neighbours load
    the host.  The JVM's JIT compiler threads are left out: after a short
    warm-up they still compile for tens of seconds, at a pace that varies
    from run to run, and that is warm-up, not the workload's work.  The
    JVM's total comes from its process-wide counters, which keep the time
    of threads that have exited (a streaming query's, for instance), at
    clock-tick resolution."""

    _JIT = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int):
        self._proc = f"/proc/{jvm_pid}"
        self._tick = os.sysconf("SC_CLK_TCK")
        self._jit: dict[str, int] = {}  # tid -> ticks; kept after it exits

    @staticmethod
    def _ticks(stat_path: str) -> int:
        with open(stat_path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])  # proc(5) utime + stime

    def __call__(self) -> float:
        for tid in os.listdir(f"{self._proc}/task"):
            try:
                with open(f"{self._proc}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(self._JIT):
                        continue
                self._jit[tid] = self._ticks(f"{self._proc}/task/{tid}/stat")
            except FileNotFoundError:  # the thread exited meanwhile
                continue
        jvm = self._ticks(f"{self._proc}/stat") - sum(self._jit.values())
        return time.process_time() + jvm / self._tick

    def jit(self) -> float:
        """CPU seconds of the JIT compiler threads seen so far."""
        return sum(self._jit.values()) / self._tick


class SparkCounters:
    """Exact Spark work counts for the jobs started after a mark.

    Job ids grow monotonically, so a mark is the highest job id seen; the
    delta covers every job started since, whichever thread (a streaming
    query's, for instance) started it."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def _seq(self, seq) -> list:
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def _jobs(self) -> list:
        self._bus.waitUntilEmpty()
        return self._seq(self._store.jobsList(None))

    def mark(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def since(self, mark: int) -> dict[str, int]:
        jobs = [j for j in self._jobs() if j.jobId() > mark]
        stage_ids = set()
        for j in jobs:
            stage_ids.update(self._seq(j.stageIds()))
        stages = tasks = written = 0
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # a stage skipped before any attempt
                continue
            if sd.numCompleteTasks() == 0:
                continue  # skipped: its output was reused
            stages += 1
            tasks += sd.numCompleteTasks()
            written += (
                sd.outputBytes() + sd.shuffleWriteBytes() + sd.diskBytesSpilled()
            )
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "written_bytes": written,
        }


class HostSpeed:
    """How much slower this host runs CPU work now than when idle.

    On a shared host, neighbours that share a core or its caches with this
    machine make every instruction slower, so CPU time grows with their
    load although the work is the same: in probe runs the CPU time of one
    seeded cycle, and even of the JIT compiler's fixed work, doubled.  A
    fixed reference task (a Python loop and a random gather from a 32 MiB
    array, beyond the caches) slows with them; it is sampled before and
    after the measured work of a run and after each measured operation.
    CPU times divided by :meth:`slowdown` are CPU times at the idle host's
    speed."""

    IDLE_S = 0.0061  # the task's median CPU time on the idle 4-core host
    # The workloads' CPU time grows as this power of the task's: in paired
    # ten-run proofs of serving_mixed on the idle host and a loaded one, the
    # task slowed 2.23x and the CPU metrics 1.79-1.96x (2.23 ** 0.8 = 1.90).
    SENSITIVITY = 0.8

    def __init__(self):
        rng = np.random.default_rng(0)
        self._data = rng.random(1 << 22)
        self._idx = rng.integers(0, len(self._data), 400_000)
        self.samples: list[float] = []

    def sample(self, n: int = 15) -> None:
        for _ in range(n):
            t0 = time.thread_time()
            acc = 0
            for i in range(100_000):
                acc += i * i
            self._data[self._idx].sum()
            self.samples.append(time.thread_time() - t0)

    def slowdown(self) -> float:
        return (median(self.samples) / self.IDLE_S) ** self.SENSITIVITY
