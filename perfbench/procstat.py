"""Resident memory and CPU time of this process and all its descendants
(the driver JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces: fields start after its ")"
        return f.read().rsplit(")", 1)[1].split()


def tree_pids(root: int | None = None) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children.setdefault(int(_stat_fields(int(name))[1]), []).append(int(name))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the processes, including their reaped
    children (a Python worker that exited is counted in its parent)."""
    ticks = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / _TICK

