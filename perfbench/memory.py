"""Memory readings of the benchmark process tree (this process, the
JVM it launched and the Python workers the JVM forks)."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _processes() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, command name, resident bytes)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue  # the process ended while we looked
        fields = tail.split()
        out[int(entry)] = (int(fields[1]), head.split("(", 1)[1], int(fields[21]) * _PAGE)
    return out


def _descendants(procs: dict[int, tuple[int, str, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, frontier = [], [root]
    while frontier:
        kids = children.get(frontier.pop(), [])
        out.extend(kids)
        frontier.extend(kids)
    return out


def descendants() -> list[int]:
    """Every live descendant of this process."""
    return _descendants(_processes(), os.getpid())


def running(pids) -> list[int]:
    """The ``pids`` that have not exited (a zombie has exited)."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state != "Z":
            out.append(pid)
    return out


def tree_rss(skip_java: bool = False) -> int:
    """Summed resident bytes of this process and all its descendants;
    ``skip_java`` leaves the JVM out (its heap is read from the JVM)."""
    procs = _processes()
    tree = [os.getpid(), *_descendants(procs, os.getpid())]
    return sum(procs[p][2] for p in tree
               if p in procs and not (skip_java and procs[p][1] == "java"))


def in_use_mb(spark) -> float:
    """Memory the run holds: the JVM's heap after a full collection and
    its non-heap pools, plus the resident memory of this Python process
    and the Python workers. Unlike peak resident memory, this does not
    depend on when the JVM chose to grow its heap."""
    jvm = spark._jvm
    jvm.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = bean.getHeapMemoryUsage().getUsed() + bean.getNonHeapMemoryUsage().getUsed()
    return (used + tree_rss(skip_java=True)) / (1 << 20)


class PeakRss(threading.Thread):
    """Samples :func:`tree_rss` until stopped and keeps the maximum."""

    def __init__(self, period_s: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.wait(self.period_s):
            self.peak_bytes = max(self.peak_bytes, tree_rss())

    def stop(self) -> None:
        self._stop_event.set()
        self.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss())
