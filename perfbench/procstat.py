"""Measurement helpers: percentiles, process-tree CPU and memory from
/proc, and the host-contention record."""

from __future__ import annotations

import os
import platform

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def pct(xs, q: float) -> float:
    """Nearest-rank percentile; 0 for no samples."""
    ys = sorted(xs)
    if not ys:
        return 0.0
    return float(ys[min(len(ys) - 1, round(q * (len(ys) - 1)))])


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s.rsplit(")", 1)[1].split()  # [1]=ppid ... [11..14]=utime stime cutime cstime


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_sample(root: int) -> tuple[float, int]:
    """(CPU seconds, RSS bytes) summed over ``root`` and its descendants.

    CPU counts utime+stime+cutime+cstime of every live member, so the
    time of a child that exits mid-run stays counted in its parent."""
    parent: dict[int, tuple[int, int]] = {}
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            f = _stat_fields(ent)
            if f is not None:
                parent[int(ent)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    tree = {root} if root in parent else set()
    grew = bool(tree)
    while grew:
        grew = False
        for pid, (ppid, _) in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    cpu = sum(parent[p][1] for p in tree) / _HZ
    return cpu, sum(_rss_bytes(p) for p in tree)


def host_busy_s() -> float:
    """Whole-host busy CPU seconds (all but idle and iowait)."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (sum(vals) - vals[3] - (vals[4] if len(vals) > 4 else 0)) / _HZ


def host_fingerprint() -> str:
    mem_gb = "?"
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal"):
                    mem_gb = str(round(int(line.split()[1]) / 1048576))
                    break
    except OSError:
        pass
    return f"{platform.machine()}/{os.cpu_count()}cpu/{mem_gb}GiB/{platform.release()}"
