"""Process-tree readings from ``/proc`` (psutil is not a dependency)."""

from __future__ import annotations

import os
import threading

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_CLK_TCK = os.sysconf("SC_CLK_TCK")
_RSS_PERIOD_S = 0.25


def seconds_since_process_start() -> float:
    """Wall time since this process was exec'd (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        # field 22 (starttime, clock ticks after boot); split after the
        # ``(comm)`` field, which may itself contain spaces
        fields = f.read().rsplit(")", 1)[1].split()
    return uptime - int(fields[19]) / _CLK_TCK


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used by ``root`` and its descendants,
    including exited descendants they have reaped. Unlike wall time it
    does not grow while the host runs other guests on this machine's CPUs."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _CLK_TCK


def tree_rss_mb(root: int) -> float:
    total_pages = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total_pages += int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total_pages * _PAGE_KB / 1024.0


class PeakRss:
    """Samples the RSS of this process tree (driver JVM, Python workers,
    the benchmark itself) on a daemon thread and keeps the peak."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(_RSS_PERIOD_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
