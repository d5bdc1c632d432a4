"""Measurement helpers: a span tracer over Spark's status store, and a
/proc sampler for the resident memory of a process tree.

The tracer records one span per call into an engine layer. Around each span
it reads the status store (``statusStore().stageList``), which the listener
keeps current with the Spark UI disabled, and attributes to the span every
stage that completed while it was open: tasks, shuffle-write bytes, spilled
bytes and summed ``executorRunTime``. Spans nest; a span's self time is its
wall minus the walls of its children, which run one after another.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from contextlib import contextmanager

_MB = 1 << 20


class StageReader:
    """Reads completed-stage and job totals from the live status store."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus; an
        # action can return before its stage-completed events are applied
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _stages(self):
        return self._jsc.statusStore().stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )

    def mark(self) -> tuple[int, int]:
        """(newest stage id, newest job id) seen so far; lists are sorted
        newest first."""
        self._drain()
        stages = self._stages()
        jobs = self._jsc.statusStore().jobsList(self._jvm.java.util.ArrayList())
        return (
            stages.apply(0).stageId() if stages.size() else -1,
            jobs.apply(0).jobId() if jobs.size() else -1,
        )

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        self._drain()
        out = {"stages": 0, "tasks": 0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "run_s": 0.0, "jobs": 0}
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= mark[0]:
                break
            if s.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spill_mb"] += s.memoryBytesSpilled() / _MB
            out["run_s"] += s.executorRunTime() / 1000.0
        jobs = self._jsc.statusStore().jobsList(self._jvm.java.util.ArrayList())
        it = jobs.iterator()
        while it.hasNext() and it.next().jobId() > mark[1]:
            out["jobs"] += 1
        return out


class Tracer:
    """In-memory span recorder; spans are dicts, children point at their
    parent's index."""

    def __init__(self, reader: StageReader, cores: int) -> None:
        self.reader = reader
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "idx": idx,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        # the status-store reads sit outside [t0, t1]: their cost lands in
        # the parent's self time, never in the layer being measured
        mark = self.reader.mark()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec["wall_s"] = t1 - t0
            rec.update(self.reader.since(mark))
            rec["busy_frac"] = rec["run_s"] / max(1e-9, rec["wall_s"] * self.cores)

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]

    def self_s(self, rec: dict) -> float:
        return rec["wall_s"] - sum(c["wall_s"] for c in self.children(rec["idx"]))

    def get(self, name: str) -> dict:
        """The most recent span of that name."""
        return next(s for s in reversed(self.spans) if s["name"] == name)


def _ppid_map() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for child, parent in _ppid_map().items():
        kids.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap(pid: int, timeout_s: float = 30.0) -> None:
    """Wait until ``pid`` has no descendants left; terminate stragglers
    (a Python worker the JVM did not take down) after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while (left := descendants(pid)) and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    while descendants(pid) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRssSampler:
    """Peak summed VmRSS of a process and all its descendants (the driver
    JVM and its Python workers), sampled on a background thread."""

    def __init__(self, pid: int, interval_s: float = 0.2) -> None:
        self.pid = pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in [self.pid, *descendants(self.pid)])
            self.peak_mb = max(self.peak_mb, kb / 1024.0)
            self._stop.wait(self.interval_s)

    def start(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak_mb


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu ticks: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between;
    a busy host slows every wall here without any change to the code."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]
