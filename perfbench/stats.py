"""Small measurement helpers: percentiles and process memory."""

from __future__ import annotations

import math
import os
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile p such that at least ``beyond`` of
    ``n`` samples lie above the p-th percentile sample (nearest rank),
    or None when ``n`` is too small for any."""
    best = None
    for p in range(1, 100):
        rank = math.ceil(p / 100 * n)  # 1-based nearest rank
        if n - rank >= beyond:
            best = p
    return best


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(math.ceil(p / 100 * len(s)), 1) - 1]


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return dict(
                line.split(":", 1) for line in fh.read().splitlines() if ":" in line
            )
    except OSError:
        return {}


def peak_rss_mb() -> float:
    """High-water RSS (VmHWM) of this process plus its JVM, in MB. The
    JVM is the descendant whose command name is ``java``; psutil is not
    assumed, so this walks ``/proc``."""
    pids, todo = [os.getpid()], _children(os.getpid())
    while todo:
        pid = todo.pop()
        if _status(pid).get("Name", "").strip() == "java":
            pids.append(pid)
        todo += _children(pid)
    kb = 0
    for pid in pids:
        hwm = _status(pid).get("VmHWM", "0 kB").split()[0]
        kb += int(hwm)
    return kb / 1024.0
