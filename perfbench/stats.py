"""Numeric helpers: quantiles, the round-cost fit, interval unions, and the
/proc memory sampler."""

from __future__ import annotations

import math
import os
import statistics
import threading


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    k = min(len(s) - 1, max(0, math.ceil(q / 100.0 * len(s)) - 1))
    return float(s[k])


def linear_fit(xs, ys) -> tuple[float, float]:
    """Least-squares ``y = a + b*x``; returns (a, b). With fewer than two
    distinct x the slope is 0 and ``a`` is the mean of y."""
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return my, 0.0
    b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    return my - b * mx, b


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all of its descendants (JVM, Python daemon, workers)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size of one process (0 if it is gone): its resident
    pages, each shared page divided among the processes mapping it, so a
    tree of forked Python workers sums to the memory it really holds."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PssSampler:
    """Samples the summed PSS of a process tree on a daemon thread and
    keeps the peak. ``start()`` / ``stop()``; ``peak_bytes`` after stop."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root, self.interval_s = root, interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        total = sum(pss_bytes(p) for p in process_tree(self.root))
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Idempotent: later calls leave the peak as it was."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    including the reaped children each of them waited for."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK
