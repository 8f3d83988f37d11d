"""CPU, memory and host readings for the benchmark's process tree: this
(driver) Python process, the JVM it launched, and the Python workers
under the JVM. Everything is read from /proc except the JVM's live
memory, which the JVM reports itself."""

from __future__ import annotations

import gc
import os
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped children's cpu s) of ``pid``."""
    return _stat_path(f"/proc/{pid}/stat")


def _stat_path(path: str) -> tuple[int, str, float, float] | None:
    try:
        with open(path) as f:
            s = f.read()
    except OSError:  # exited between listing and reading
        return None
    comm = s[s.index("(") + 1:s.rindex(")")]
    f = s[s.rindex(")") + 2:].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    return (int(f[1]), comm, (int(f[11]) + int(f[12])) / _TICK,
            (int(f[13]) + int(f[14])) / _TICK)


def _children(root: int) -> dict[int, tuple[int, str, float, float]]:
    """Every live process whose ancestry reaches ``root``, root included."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                procs[int(d)] = st
    tree, frontier = {}, [root]
    kids: dict[int, list[int]] = {}
    for pid, st in procs.items():
        kids.setdefault(st[0], []).append(pid)
    while frontier:
        p = frontier.pop()
        if p in procs:
            tree[p] = procs[p]
            frontier.extend(kids.get(p, ()))
    return tree


@dataclass
class CpuSample:
    driver_py: float
    jvm: float       # the whole JVM, its JIT compiler threads included
    pyworker: float
    jit: float = 0.0  # part of ``jvm``: the JIT compiler threads
    jit_threads: dict[int, float] | None = None

    @property
    def total(self) -> float:
        return self.driver_py + self.jvm + self.pyworker

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        """CPU spent between ``other`` and this sample. ``jit`` is a
        lower bound: a compiler thread that exits in between takes the
        CPU it spent since ``other`` with it (``jvm`` still counts it)."""
        before = other.jit_threads or {}
        jit = sum(v - before.get(t, 0.0)
                  for t, v in (self.jit_threads or {}).items())
        return CpuSample(self.driver_py - other.driver_py,
                         self.jvm - other.jvm,
                         self.pyworker - other.pyworker, jit)


def classify(tree: dict[int, tuple[int, str, float, float]], root: int,
             ) -> CpuSample:
    """Split the tree's CPU seconds into driver Python, JVM and workers.

    Each live process counts its own time; a process that has exited and
    been reaped is in its parent's children time. So the root counts its
    own time only (its children are the JVM and helpers it waits for),
    the JVM counts its own, and everything under the JVM - live workers
    plus the children the JVM and workers reaped - is worker time."""
    jvms = [p for p, st in tree.items() if st[0] == root and st[1] == "java"]
    driver = tree[root][2] if root in tree else 0.0
    jvm = sum(tree[p][2] for p in jvms)
    under: set[int] = set()
    frontier = list(jvms)
    while frontier:
        p = frontier.pop()
        for c, st in tree.items():
            if st[0] == p and c not in under:
                under.add(c)
                frontier.append(c)
    workers = sum(tree[p][3] for p in jvms) + sum(
        tree[p][2] + tree[p][3] for p in under)
    jit_threads = {t: v for p in jvms for t, v in jit_threads_cpu(p).items()}
    # other direct children of the driver (compilers, helpers) are
    # driver-side work
    driver += sum(st[2] + st[3] for p, st in tree.items()
                  if st[0] == root and p not in jvms)
    driver += tree[root][3] if root in tree else 0.0
    return CpuSample(driver, jvm, workers, sum(jit_threads.values()),
                     jit_threads)


# JVM threads that compile code: Spark's generated classes and the
# program's own hot paths
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def jit_threads_cpu(pid: int) -> dict[int, float]:
    """CPU seconds of each live JIT compiler thread of the JVM ``pid``."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        st = _stat_path(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and st[1].rstrip("0123456789") in JIT_THREADS:
            out[int(tid)] = st[2]
    return out


def cpu_tree(root: int | None = None) -> CpuSample:
    root = os.getpid() if root is None else root
    return classify(_children(root), root)


def rss_mb(root: int | None = None, field: str = "VmHWM",
           ) -> dict[str, float]:
    """Resident set of the live tree, summed per process kind: driver
    Python, JVM, workers; ``total`` is their sum. ``field`` is the
    ``/proc/<pid>/status`` line: ``VmHWM`` (peak) or ``VmRSS`` (now)."""
    root = os.getpid() if root is None else root
    tree = _children(root)
    out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (ppid, comm, _, _) in tree.items():
        kind = ("driver_py" if pid == root else
                "jvm" if comm == "java" and ppid == root else
                "driver_py" if ppid == root else "pyworker")
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(field + ":"):
                        out[kind] += int(line.split()[1]) / 1024.0
        except OSError:
            continue
    out["total"] = sum(out.values())
    return out


def jvm_live_mb(spark) -> dict[str, float]:
    """Memory the JVM holds live, in MB: its heap in use right after a
    full collection, its non-heap pools (class metadata, compiled code)
    and its NIO buffers. Unlike the JVM's resident set this does not
    depend on how far the collector has chosen to grow the heap.

    The JVM keeps a plan (and its broadcasts) alive while the Python
    object behind it lives, so Python collects first. A JVM collection
    makes Spark's context cleaner drop the broadcasts and shuffles of
    collected plans, which frees more on the next one, so the JVM
    collects every 0.3 s until the heap in use has not shrunk
    for two collections in a row (the cleaner works in the background
    and can fall a collection behind)."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    mem = mf.getMemoryMXBean()
    heap, still = float("inf"), 0
    for _ in range(12):
        jvm.java.lang.System.gc()
        now = mem.getHeapMemoryUsage().getUsed()
        still = still + 1 if now > 0.99 * heap else 0
        heap = min(heap, now)
        if still == 2:
            break
        time.sleep(0.3)
    pools = mf.getPlatformMXBeans(jvm.java.lang.Class.forName(
        "java.lang.management.BufferPoolMXBean"))
    out = {"heap": heap,
           "non_heap": mem.getNonHeapMemoryUsage().getUsed(),
           "buffers": sum(b.getMemoryUsed() for b in pools)}
    return {k: v / 2**20 for k, v in out.items()}


def host_cpu() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return v[7], sum(v[:8])


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
