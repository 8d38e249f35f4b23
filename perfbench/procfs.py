"""Readings from /proc: CPU time of a process tree, resident memory,
load average, steal time and a spin sample of the box's speed."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def tree(pid: int) -> list[int]:
    """``pid`` and every live descendant."""
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime + cutime + cstime summed over ``pids``: the CPU the
    processes used, plus that of their children already reaped."""
    total = 0
    for p in pids:
        f = _stat_fields(p)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        f = _stat_fields(p)
        if f is not None:
            total += int(f[21])
    return total * _PAGE / 1e6


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def spin_ms(n: int = 2_000_000) -> float:
    """The single-thread spin calibration of ``bench.py``: a fixed
    pure-Python loop whose wall time is a load proxy for the box."""
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i * i
    del s
    return round((time.perf_counter() - t0) * 1000, 1)


def load_sample() -> dict:
    """One load record: recorded next to each run, never used to adjust
    a measured number."""
    return {"spin_ms": spin_ms(), "loadavg": loadavg(), "steal_ticks": steal_ticks()}
