"""Readings of the host: this process tree, and the CPU time the
hypervisor stole from the machine (a shared host's contention, which
every run records)."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_start() -> float:
    """Wall-clock time at which this process started."""
    import time

    try:
        start_ticks = int(_stat_fields(os.getpid())[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / TICK)
    except (OSError, ValueError, IndexError):
        return time.time()


def tree() -> list[int]:
    """This process and all its descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat_fields(int(d))[1])
            except (OSError, ValueError, IndexError):
                pass
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def steal_s() -> float:
    """CPU seconds stolen from this machine since boot, over all CPUs."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / TICK
    except (OSError, ValueError, IndexError):
        return 0.0
