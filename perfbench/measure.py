"""Latency statistics and process memory."""

from __future__ import annotations

import os

# tail percentiles tried from the highest down; a tier is used only when at
# least TAIL_MIN_BEYOND samples lie beyond it
TAIL_TIERS = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def _rank(pct: float, n: int) -> int:
    """Nearest-rank position (1-based) of ``pct`` among ``n`` samples,
    in integer arithmetic so 99.9 of 10000 is exactly 9990."""
    return max(1, -(-round(pct * 10) * n // 1000))


def tail(latencies: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float, int] | None:
    """(percentile, latency, samples beyond) at the highest tier of
    TAIL_TIERS that leaves at least ``min_beyond`` samples above its
    nearest-rank position; None when even p75 does not."""
    vals = sorted(latencies)
    n = len(vals)
    for pct in TAIL_TIERS:
        k = _rank(pct, n)
        if n - k >= min_beyond:
            return pct, vals[k - 1], n - k
    return None


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU time of the machine so far, from /proc/stat. The
    steal share over a phase tells how much a shared host slowed it."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb(pids: list[int]) -> float:
    """Summed VmHWM (peak resident set) of ``pids`` in MiB."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
