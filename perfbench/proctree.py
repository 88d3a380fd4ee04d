"""CPU and resident memory of this process and every descendant, from /proc.

The tree is the Python driver, the JVM it launched, and the pyspark daemon
and Python workers the JVM forks.  ``cpu_s()`` counts each live process's
own user+system time plus the time of children it has already reaped, so a
Python worker that exits mid-pass still counts (its parent, the daemon,
reaps it).  ``RssSampler`` polls the tree's summed resident set from one
background thread and keeps the peak.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pids: list[int] | None = None) -> float:
    total = 0
    for pid in tree_pids() if pids is None else pids:
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_bytes(pids: list[int] | None = None) -> int:
    total = 0
    for pid in tree_pids() if pids is None else pids:
        st = _stat(pid)
        if st is not None:
            total += int(st[21]) * _PAGE  # rss, field 24
    return total


class RssSampler:
    """Peak summed RSS of the tree, polled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes())
