"""Run context read from /proc: CPU count, steal share, load average and a
sampler of the summed RSS of this process tree (driver, JVM, Python
workers). psutil is not needed."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate 'cpu' line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(x) for x in fields]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    return sum(vals[:8]), steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue  # the process ended between listing and reading
    return total


class Sampler:
    """Background thread sampling tree RSS and the 1-minute load average."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.rss: list[tuple[float, int]] = []  # (perf_counter, bytes)
        self.loads: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.rss.append((time.perf_counter(), tree_rss_bytes(root)))
            self.loads.append(loadavg1())
            self._stop.wait(self.interval_s)

    def peak_in(self, start: float, end: float) -> int:
        """Largest RSS sampled between two perf_counter times (the nearest
        sample when the interval holds none)."""
        inside = [b for t, b in self.rss if start <= t <= end]
        if inside:
            return max(inside)
        return min(self.rss, key=lambda tb: abs(tb[0] - end))[1] if self.rss else 0

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
