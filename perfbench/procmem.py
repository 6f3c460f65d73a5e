"""Memory the engine holds: the driver JVM's heap and non-heap in use after
a full collection, and the peak RSS of the Python worker processes the JVM
starts, sampled from ``/proc`` because psutil is not available."""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


def jvm_live_mb(spark) -> float:
    """Heap plus non-heap (metaspace, code cache) the driver JVM uses right
    after a full collection: what the engine keeps, not what the collector
    happens to have sized."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / MB


def _parents() -> dict[int, int]:
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        parent[int(p)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return parent


def tree_pids(root: int, parent: dict[int, int] | None = None) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in (parent or _parents()).items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _statm(pid: int) -> tuple[int, int] | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            size, resident = f.read().split()[:2]
    except OSError:
        return None  # exited
    return int(size), int(resident)


def _same_memory(a: tuple[int, int], b: tuple[int, int]) -> bool:
    return all(abs(x - y) <= 0.02 * max(x, y) for x, y in zip(a, b))


def descendants_rss_bytes(root: int) -> int:
    """Summed RSS of ``root``'s descendants, ``root`` itself excluded. The
    JVM starts helper commands with vfork, so until they exec a child shares
    its parent's address space and reports its figures; a child whose size
    and RSS match its parent's (read right after it) is not counted."""
    parent = _parents()
    total = 0
    for pid in tree_pids(root, parent):
        if pid == root:
            continue
        mine = _statm(pid)
        if mine is None:
            continue
        theirs = _statm(parent[pid]) if pid in parent else None
        if theirs is None or not _same_memory(mine, theirs):
            total += mine[1]
    return PAGE * total


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


class PeakWorkerRss:
    """Background sampler of the summed RSS of the driver JVM's child
    processes (Python workers); ``peak_mb`` after stop."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pid = _jvm_pid()
        if pid is not None:
            self.peak = max(self.peak, descendants_rss_bytes(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakWorkerRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / MB
