"""CPU time and resident memory of this process and all its descendants.

Spark's work happens in three kinds of process: this driver, the JVM it
launches and the Python workers the JVM forks.  Everything here is read from
``/proc`` so the figures cover that whole tree without asking Spark.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone.  Index 1 is the parent pid; 11..14 are utime, stime,
    cutime and cstime in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return data[data.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including children it reaped."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS on a background thread while active.

    A per-process high-water mark (VmHWM) would miss nothing between samples,
    but it cannot be reset here and sums peaks that happened at different
    times, so the tree total is sampled instead."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
