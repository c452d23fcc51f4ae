"""Order statistics shared by the workloads and the tests."""

from __future__ import annotations

import math
import os

#: A tail percentile must leave at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return float(xs[min(rank, len(xs)) - 1])


def median(values) -> float:
    """Middle value, or the mean of the two middle values."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return float(xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0)


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int | None:
    """The highest whole percentile with at least ``min_beyond`` of ``n``
    samples strictly above its nearest-rank position, or ``None`` when
    even the median leaves fewer than that beyond it."""
    for q in range(99, 49, -1):
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= min_beyond:
            return q
    return None


def tree_peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of the peak resident sizes (``VmHWM``) of a process and all
    its live descendants — the benchmark process, its JVM and the Python
    workers the JVM forked — read from ``/proc``."""
    root = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
