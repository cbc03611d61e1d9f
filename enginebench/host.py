"""Host context: CPU steal, a fixed spin's time and process memory.

These numbers are context for reading a run, never corrections: a host
probe tracks this machine's speed swings too loosely to divide by.
"""

from __future__ import annotations

import os
import statistics
import time


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; zeros where unavailable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def spin_s(n: int = 200_000, repeat: int = 5) -> float:
    """Median time of a fixed pure-Python loop."""
    times = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x += i * i
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root_pid: int) -> float:
    """Sum of peak RSS over ``root_pid`` and all its live descendants
    (the driver JVM and the Python workers it forked)."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0
