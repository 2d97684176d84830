"""Spans and host/Spark probes for the CDC benchmark.

Spans are kept in memory and written out when the run ends. They are
recorded by the benchmark around its own calls into each engine layer;
the engine itself is not instrumented.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    trace: int
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


class Tracer:
    """Nested spans; one trace id per micro-batch."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: int):
        stack = self._stack
        idx = len(self.spans)
        self.spans.append(Span(name, trace, time.monotonic(), 0.0, stack[-1] if stack else None))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.monotonic()

    def self_times(self) -> dict[int, float]:
        """Span index -> duration minus the part its children cover
        (children of one span never overlap: they nest)."""
        child = {i: 0.0 for i in range(len(self.spans))}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {i: (s.end - s.start) - child[i] for i, s in enumerate(self.spans)}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


class SparkCounters:
    """Job count and shuffle-write bytes through the Spark UI's REST API
    (the same sources bench.py's ``_max_job_id`` and
    ``_shuffle_write_bytes`` read). Shuffle bytes are summed over stages
    newer than the last call, so the UI's stage retention cannot drop any."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._last_stage = self._max_stage()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.load(r)

    def _max_stage(self) -> int:
        return max((int(s["stageId"]) for s in self._get("/stages")), default=-1)

    def max_job_id(self) -> int:
        return max((int(j["jobId"]) for j in self._get("/jobs")), default=-1)

    def shuffle_bytes_since_last(self) -> int:
        stages = self._get("/stages?status=complete")
        new = [s for s in stages if int(s["stageId"]) > self._last_stage]
        self._last_stage = max([self._last_stage] + [int(s["stageId"]) for s in new])
        return sum(int(s.get("shuffleWriteBytes", 0)) for s in new)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:  # removed by a concurrent GC
                pass
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path))


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every process
    below it, live or already reaped: the Spark driver JVM, its Python
    workers and the data source's planner processes. Host steal does not
    accrue to process CPU time, so this holds steady where wall time does
    not."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # fields after the command: state ppid ... utime(11) stime cutime cstime
        stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
