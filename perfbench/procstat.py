"""Process-tree CPU and RSS from ``/proc``.

The tree is rooted at the benchmark's own process, so it covers the
driver, the Spark JVM it launches and the Python workers that the JVM
forks.  CPU is read on demand (``cpu_s``); RSS is sampled by a
background thread whose peak can be reset at the start of a timed
region.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Optional, Tuple

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> Optional[List[str]]:
    """Fields after the ``(comm)`` of ``/proc/<pid>/stat``, or None
    when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(b")") + 2:].decode().split()


def _snapshot() -> Dict[int, List[str]]:
    out = {}
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            fields = _stat(int(entry.name))
            if fields is not None:
                out[int(entry.name)] = fields
    return out


def tree(root: int) -> Tuple[float, int]:
    """(CPU seconds, RSS bytes) of ``root`` and all its
    descendants.  CPU counts each live process's own user+system time
    plus the time of children it has already reaped."""
    procs = _snapshot()
    kids: Dict[int, List[int]] = {}
    for pid, f in procs.items():
        kids.setdefault(int(f[1]), []).append(pid)
    cpu_ticks = rss_pages = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        f = procs.get(pid)
        if f is None:
            continue
        # after ``)``: state ppid ... utime(11) stime(12) cutime(13) cstime(14) ... rss(21)
        cpu_ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        rss_pages += int(f[21])
        todo.extend(kids.get(pid, ()))
    return cpu_ticks / _CLK_TCK, rss_pages * _PAGE


class TreeSampler:
    """Samples the RSS of this process's tree every 50 ms on a thread."""

    interval = 0.05

    def __init__(self) -> None:
        self.root = os.getpid()
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="procstat", daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> Tuple[float, int]:
        cpu, rss = tree(self.root)
        with self._lock:
            self._peak = max(self._peak, rss)
        return cpu, rss

    def cpu_s(self) -> float:
        """Tree CPU seconds now (also records an RSS sample)."""
        return self.sample()[0]

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0
        self.sample()

    def peak_rss_bytes(self) -> int:
        self.sample()
        with self._lock:
            return self._peak
