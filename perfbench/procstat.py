"""CPU time and resident memory of this process's descendants, from /proc.

The JVM that pyspark launches and the Python workers that the JVM forks
are all descendants of the benchmark process, so their CPU seconds and
peak RSS are summed over that process tree.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while we looked
        return None
    # the command name may hold spaces and parentheses: split after it
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def cpu_seconds(pids: list[int]) -> dict[int, float]:
    """User + system CPU seconds per pid, including reaped children."""
    out = {}
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            out[pid] = sum(int(v) for v in fields[11:15]) / _TICKS
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds spent between two :func:`cpu_seconds` snapshots. A pid
    new in ``after`` counts whole; a pid gone from ``after`` counts 0."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
