"""Small measurement helpers: percentiles, the tail-percentile rule and a
/proc RSS sampler."""

from __future__ import annotations

import math
import os
import re
import threading

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: Percentiles the report may quote, lowest first.
TAIL_PERCENTILES = (50, 75, 90, 95, 99)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least ``pct``%
    of the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(s)))
    return s[rank - 1]


def tail_percentile(n_samples: int) -> int | None:
    """The highest percentile in TAIL_PERCENTILES that has at least ten
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100 * n_samples))
        if n_samples - rank >= 10:
            best = p
    return best


def children_map() -> dict[int, list[int]]:
    """ppid -> child pids for every process visible in /proc."""
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces: ppid follows the ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(entry))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """RSS of a process and all its descendants, in MB."""
    children = children_map()
    total, stack, seen = 0, [root_pid], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_kb(pid)
        stack.extend(children.get(pid, ()))
    return total / 1024


_TICKS = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


class CpuClock:
    """CPU seconds used so far by this process and by a process tree below
    it (the JVM and its Python workers). Time the host lets another guest
    run on our cores is not in it, unlike a wall-clock interval."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid

    def now(self) -> float:
        children = children_map()
        ticks, stack = 0, [self.root_pid]
        while stack:
            pid = stack.pop()
            ticks += _cpu_ticks(pid)
            stack.extend(children.get(pid, ()))
        own = os.times()
        return ticks / _TICKS + own.user + own.system


#: Seconds between two RSS samples.
RSS_INTERVAL = 0.2


class RssSampler:
    """Samples the RSS of a process tree every RSS_INTERVAL seconds on a
    daemon thread and keeps the peak. Use as a context manager."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            if self._stop.wait(RSS_INTERVAL):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
