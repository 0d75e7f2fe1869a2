"""Measurement helpers: the span tracer, process-tree counters from /proc,
and Spark counters read through the JVM gateway.

Spans are recorded from the benchmark's own code around calls into each
layer's public functions; nothing inside the program is instrumented.
"""

from __future__ import annotations

import gc
import itertools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float


class Tracer:
    """In-memory span recorder, switched on per thread: where it is off,
    ``span`` records nothing, so traced and untraced ops can interleave.

    A span's parent is the innermost open span of the same thread; the
    spans of one operation share its ``op`` id."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @property
    def enabled(self) -> bool:
        return getattr(self._local, "on", False)

    def set_enabled(self, on: bool) -> None:
        """Switch recording for the calling thread."""
        self._local.on = on

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if op is None and parent is not None:
            op = parent[1]
        stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, parent[0] if parent else None, op, name, start, end))

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover
        (children of one span run on its thread, so they never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.sid: (s.end - s.start) - child[s.sid] for s in self.spans}


def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class HostClock:
    """A stopwatch that also reports its interval less the share the
    hypervisor gave to other guests (steal time in /proc/stat).

    On a shared host, steal moved from 2% to 23% of this VM's CPU time
    within an hour and stretched every wall time with it. Scaling the
    interval by the busy share of (busy + stolen) CPU time is a model of
    what it would have taken on an unloaded host, not a measurement: it
    assumes steal delays the caller's critical path in proportion to the
    VM-wide share. The wall time is returned beside it."""

    def __init__(self, start: float | None = None):
        self.t0 = time.perf_counter() if start is None else start
        self.ticks0 = _cpu_ticks()

    def read(self) -> tuple[float, float]:
        """(wall seconds, steal-corrected seconds) since the start."""
        wall = time.perf_counter() - self.t0
        busy, steal = _cpu_ticks()
        db, ds = busy - self.ticks0[0], steal - self.ticks0[1]
        return wall, wall * (db / (db + ds) if db + ds > 0 else 1.0)


def _tree_pids(root: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children[p])
    return out


def tree_cpu_s() -> float:
    """user+system CPU seconds of this process and its live descendants."""
    total = 0
    for p in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / _TICK


def rss_mb(pid: int) -> float:
    """Current resident set (VmRSS) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak RSS (VmHWM) over the tree, in MB."""
    kb = 0
    for p in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class JvmCounters:
    """Cumulative Spark counters of the local-mode driver, via py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm

    def executor(self) -> dict[str, float]:
        """Shuffle bytes written and tasks failed so far (local mode has one
        executor, the driver). Counters update from the listener bus, so
        callers wait for it to drain before reading."""
        self.jsc.listenerBus().waitUntilEmpty()
        es = self.jsc.statusStore().executorList(True)
        out = {"shuffle_bytes": 0.0, "failed_tasks": 0.0}
        for i in range(es.size()):
            e = es.apply(i)
            out["shuffle_bytes"] += e.totalShuffleWrite()
            out["failed_tasks"] += e.failedTasks()
        return out

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def live_mb(self) -> dict[str, float]:
        """Memory the JVM holds live, in MiB (like the RSS figures): heap in
        use right after a full GC, non-heap (metaspace, code cache) and NIO
        buffer pools. Unlike RSS it does not depend on how far the heap grew
        before a collection, so it moves with what the program keeps (the
        cache)."""
        gc.collect()  # drops Python proxies, releasing the JVM objects they pin
        lang = self.jvm.java.lang
        mf = lang.management.ManagementFactory
        lang.System.gc()
        time.sleep(1)  # Spark's ContextCleaner frees the blocks (broadcasts,
        lang.System.gc()  # shuffles) of collected plans asynchronously
        mem = mf.getMemoryMXBean()
        pools = mf.getPlatformMXBeans(lang.Class.forName("java.lang.management.BufferPoolMXBean"))
        return {
            "heap": mem.getHeapMemoryUsage().getUsed() / 2**20,
            "nonheap": mem.getNonHeapMemoryUsage().getUsed() / 2**20,
            "buffers": sum(pools.get(i).getMemoryUsed() for i in range(pools.size())) / 2**20,
        }

    def cached_mb(self) -> float:
        return sum(i.memSize() for i in self.jsc.getRDDStorageInfo()) / 1e6

    def group_jobs_tasks(self, group: str) -> tuple[int, int]:
        """Jobs and tasks launched under a job group (one group per op)."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), tasks
