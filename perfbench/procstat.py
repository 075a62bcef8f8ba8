"""Process-tree CPU and RSS read straight from /proc.

The tree is the benchmark's Python process (the Spark driver), the
JVM it launched and the Python workers the JVM forks. CPU time counts
user + system time of every live process in the tree plus the time of
children they have already reaped, so a worker that exits mid-run is
not lost.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def stat_fields(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after it
    return raw[raw.rfind(")") + 2:].split()


def all_pids() -> list[str]:
    return [p for p in os.listdir("/proc") if p.isdigit()]


def tree_pids(root: int) -> list[str]:
    """``root`` and all its descendants."""
    children: dict[str, list[str]] = {}
    for pid in all_pids():
        st = stat_fields(pid)
        if st is not None:
            children.setdefault(st[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        st = stat_fields(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(x) for x in st[11:15])
    return total / _CLK


def tree_rss_mb(pids: list[str]) -> float:
    total = 0
    for pid in pids:
        st = stat_fields(pid)
        if st is not None:
            total += int(st[21])
    return total * _PAGE / 2**20


class RssPeak:
    """Background sampler of the tree's summed RSS; ``peak_mb`` is the
    highest sample since the last ``reset``."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids: list[str] = []
        tick = 0
        while not self._stop.wait(self.interval_s):
            if tick % 10 == 0:  # new workers appear rarely: rescan each second
                pids = tree_pids(self.root)
            tick += 1
            rss = tree_rss_mb(pids)
            with self._lock:
                self.peak_mb = max(self.peak_mb, rss)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = tree_rss_mb(tree_pids(self.root))

    def read(self) -> float:
        with self._lock:
            return self.peak_mb

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
