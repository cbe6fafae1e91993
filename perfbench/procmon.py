"""Process-tree CPU and memory, and host contention, read from /proc.

The tree is this process and every descendant: the Spark driver JVM that
PySpark launches, and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, utime+stime ticks, rss pages) for every live process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        table[int(entry)] = (int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[21]))
    return table


def _tree(root: int) -> dict[int, tuple[int, int]]:
    """pid -> (cpu ticks, rss pages) for `root` and its descendants."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


class TreeMonitor:
    """Samples the process tree from a background thread between `start`
    and `stop`. CPU is the sum over processes of ticks gained since the
    start (a process that exits between samples keeps its last reading);
    peak RSS is the largest summed RSS seen."""

    def __init__(self, interval: float = 0.2) -> None:
        self._interval = interval
        self._root = os.getpid()
        self._base: dict[int, int] = {}
        self._last: dict[int, int] = {}
        self._peak_rss = 0
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        tree = _tree(self._root)
        for pid, (ticks, _) in tree.items():
            self._last[pid] = ticks
        self._peak_rss = max(self._peak_rss, sum(rss for _, rss in tree.values()))

    def _loop(self) -> None:
        while not self._halt.wait(self._interval):
            self._sample()

    def start(self) -> None:
        self._base = {pid: ticks for pid, (ticks, _) in _tree(self._root).items()}
        self._last = dict(self._base)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict[str, float]:
        self._halt.set()
        self._thread.join()
        self._sample()
        ticks = sum(t - self._base.get(pid, 0) for pid, t in self._last.items())
        return {"cpu_s": ticks / _TICK, "peak_rss_mb": self._peak_rss * _PAGE / 2**20}


def cpu_counters() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_since(start: tuple[int, int]) -> dict[str, float]:
    steal, total = cpu_counters()
    d_steal, d_total = steal - start[0], total - start[1]
    return {
        "steal_s": d_steal / _TICK,
        "steal_share": d_steal / d_total if d_total else 0.0,
    }
