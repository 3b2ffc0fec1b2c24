"""Timing, labelling and process accounting around calls into the library.

:class:`Recorder` wraps each public call from outside: it sets the Spark job
group to ``<workload>:<layer>:<op>`` (the job description carries
``<pass>:<phase>``), times the call, and after each published product
releases the caller-owned stage caches, counts the RDDs still persisted and
clears the cache so no op reuses another's cached data.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    pass_tag: str
    layer: str
    op: str
    phase: str  # "build" | "exec"
    seconds: float


@dataclass
class Recorder:
    spark: object
    workload: str
    sink: Callable
    pass_tag: str = "setup"
    spans: list[Span] = field(default_factory=list)
    #: (pass tag, layer, op, latency seconds): one entry per published op
    ops: list[tuple[str, str, str, float]] = field(default_factory=list)
    #: RDDs still persisted after an op released its stage caches, counted
    #: once each: (pass tag, op) -> count
    leaked_rdds: dict[tuple[str, str], int] = field(default_factory=dict)
    _seen_rdds: set[int] = field(default_factory=set)
    _pending: dict[tuple[str, str], float] = field(default_factory=dict)

    def start_pass(self, tag: str) -> None:
        self.pass_tag = tag
        self._pending.clear()

    def _label(self, layer: str, op: str, phase: str) -> None:
        self.spark.sparkContext.setJobGroup(
            f"{self.workload}:{layer}:{op}", f"{self.pass_tag}:{phase}")

    def call(self, layer: str, op: str, fn: Callable):
        """Time one public call (planning plus any eager jobs)."""
        self._label(layer, op, "build")
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        self.spans.append(Span(self.pass_tag, layer, op, "build", dt))
        key = (layer, op)
        self._pending[key] = self._pending.get(key, 0.0) + dt
        return out

    def publish(self, layer: str, op: str, df) -> None:
        """Materialize or publish one product; its op latency is its build
        time plus this."""
        self._label(layer, op, "exec")
        t0 = time.perf_counter()
        self.sink(df, op)
        dt = time.perf_counter() - t0
        self.spans.append(Span(self.pass_tag, layer, op, "exec", dt))
        self.ops.append((self.pass_tag, layer, op, self._pending.pop((layer, op), 0.0) + dt))
        self._release(df, op)

    def _release(self, df, op: str) -> None:
        for cached in getattr(df, "_stage_caches", None) or []:
            cached.unpersist()
        sc = self.spark.sparkContext
        left = {int(i) for i in sc._jsc.getPersistentRDDs().keys()} - self._seen_rdds
        self._seen_rdds |= left
        if left:
            self.leaked_rdds[(self.pass_tag, op)] = len(left)
        self.spark.catalog.clearCache()
        sc.setJobGroup("", "")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, utime+stime+cutime+cstime seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / CLK_TCK


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and all its descendants (JVM, Python
    workers); exited children count once reaped into their parent."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, []))
    return total


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def host_stamp() -> dict:
    """1-minute load average and cumulative /proc/stat steal ticks."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return {"load1": os.getloadavg()[0], "steal": vals[7], "total": sum(vals)}


def steal_pct(before: dict, after: dict) -> float:
    total = after["total"] - before["total"]
    return 100.0 * (after["steal"] - before["steal"]) / total if total > 0 else 0.0
