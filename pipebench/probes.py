"""Measurement probes: process-tree CPU and memory from ``/proc``, spans
recorded around the program's public functions, and Spark task metrics
read back from the local event log.

All of it lives in the benchmark's files. The program is measured from
outside: spans wrap module attributes the two plans look up at call
time, so no program file changes.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class ProcSample:
    """CPU-seconds of this process tree, split by kind, at one instant."""

    self_s: float = 0.0
    jvm_s: float = 0.0
    python_s: float = 0.0

    @property
    def total_s(self) -> float:
        return self.self_s + self.jvm_s + self.python_s

    def __sub__(self, other: "ProcSample") -> "ProcSample":
        return ProcSample(
            self.self_s - other.self_s,
            self.jvm_s - other.jvm_s,
            self.python_s - other.python_s,
        )


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        for children in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                with open(children) as f:
                    stack.extend(int(c) for c in f.read().split())
            except OSError:
                continue  # exited mid-scan
    return out


def jit_cpu_s() -> float:
    """CPU-seconds of the JIT compiler threads of this tree's JVMs."""
    total = 0
    for pid in descendants(os.getpid()):
        for path in glob.glob(f"/proc/{pid}/task/*/stat"):
            stat = _stat(path)
            if stat is not None and "CompilerThre" in stat[0]:
                total += int(stat[1][11]) + int(stat[1][12])
    return total / CLK_TCK


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) from a ``/proc`` stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None  # exited mid-scan
    return stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split(" ")


def sample() -> ProcSample:
    """CPU-seconds of this process and its descendants.

    A process's own time plus the time of children it has reaped, so a
    Python worker that exits mid-call is still counted exactly once. The
    benchmark's own process counts only its own time: the JVM it starts
    is counted live."""
    me = os.getpid()
    s = ProcSample()
    for pid in descendants(me):
        stat = _stat(f"/proc/{pid}/stat")
        if stat is None:
            continue
        comm, rest = stat
        own = (int(rest[11]) + int(rest[12])) / CLK_TCK
        reaped = (int(rest[13]) + int(rest[14])) / CLK_TCK
        if pid == me:
            s.self_s += own
        elif comm == "java":
            s.jvm_s += own + reaped
        else:
            s.python_s += own + reaped
    return s


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def memory() -> tuple[int, int, int]:
    """Resident bytes of (this process, its JVM, its Python workers).

    The workers are forked from one daemon and share most pages, so
    their RSS would count each shared page once per worker; they are
    measured by PSS, which splits a shared page among its sharers. Only
    the JVM this process started counts as the JVM: a child the JVM
    spawns shares its address space until it execs, and would read as a
    second JVM."""
    me = os.getpid()
    own = jvm = python = 0
    for pid in descendants(me):
        stat = _stat(f"/proc/{pid}/stat")
        if stat is None:
            continue
        comm, rest = stat
        if pid == me:
            own += int(rest[21]) * PAGE
        elif comm == "java" and int(rest[1]) == me:
            jvm += int(rest[21]) * PAGE
        elif comm.startswith("python"):
            python += _pss_bytes(pid)
    return own, jvm, python


class PeakRss:
    """Peak resident memory of the process tree while the context is
    open: of the whole tree, and of its JVMs and Python workers apart."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = self.peak_jvm_bytes = self.peak_python_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _take(self) -> None:
        own, jvm, python = memory()
        self.peak_bytes = max(self.peak_bytes, own + jvm + python)
        self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
        self.peak_python_bytes = max(self.peak_python_bytes, python)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._take()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._take()


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    detail: str = ""
    python_cpu_s: float = 0.0


@dataclass
class Tracer:
    """Records a span around every call of each wrapped function."""

    spans: list[Span] = field(default_factory=list)
    _undo: list = field(default_factory=list)

    def wrap(self, owner, attr: str, name: str, detail=None, python_cpu: bool = False):
        """Replace ``owner.attr`` with a recording wrapper. ``detail`` maps
        the call's arguments to a label; ``python_cpu`` also samples the
        Python workers' CPU across the call."""
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            before = sample() if python_cpu else None
            span = Span(name, time.time(), detail=detail(*args, **kwargs) if detail else "")
            try:
                return original(*args, **kwargs)
            finally:
                span.t1 = time.time()
                if before is not None:
                    span.python_cpu_s = sample().python_s - before.python_s
                self.spans.append(span)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def within(self, t0: float, t1: float) -> list[Span]:
        return sorted((s for s in self.spans if t0 <= s.t0 and s.t1 <= t1), key=lambda s: s.t0)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class SparkWork:
    """Task metrics of the Spark jobs submitted inside some intervals."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 1.0


class EventLog:
    """Spark's local JSON event log, parsed once after the session stops."""

    def __init__(self, log_dir: str):
        self.job_submit: dict[int, float] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.tasks: dict[int, list[dict]] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.job_submit[e["Job ID"]] = e["Submission Time"] / 1000.0
            self.job_stages[e["Job ID"]] = e["Stage IDs"]
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            m = e["Task Metrics"]
            self.tasks.setdefault(e["Stage ID"], []).append(
                {
                    "run_ms": m["Executor Run Time"],
                    "cpu_ns": m["Executor CPU Time"],
                    "spill": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                    "shuffle_write": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                }
            )

    def work(self, intervals: list[tuple[float, float]]) -> SparkWork:
        jobs = [
            j for j, t in self.job_submit.items() if any(a <= t <= b for a, b in intervals)
        ]
        stages = {s for j in jobs for s in self.job_stages[j] if s in self.tasks}
        w = SparkWork(jobs=len(jobs), stages=len(stages))
        heaviest = 0
        for s in stages:
            tasks = self.tasks[s]
            w.tasks += len(tasks)
            w.executor_cpu_s += sum(t["cpu_ns"] for t in tasks) / 1e9
            w.spill_bytes += sum(t["spill"] for t in tasks)
            w.shuffle_write_bytes += sum(t["shuffle_write"] for t in tasks)
            runs = [t["run_ms"] for t in tasks]
            # skew of the stage that costs most: its slowest task over its median
            if sum(runs) > heaviest and len(runs) > 1:
                heaviest = sum(runs)
                w.task_skew = max(runs) / max(statistics.median(runs), 1)
        return w
