"""Resident set and CPU time of a process tree, read from /proc.

A run's process tree is the measured Python process, the JVM it starts and
the PySpark Python workers the JVM forks; these helpers sum over all of
them.
"""

from __future__ import annotations

import os
from typing import Dict, Tuple

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _scan() -> Dict[int, Tuple[int, int, float]]:
    """pid -> (ppid, resident bytes, CPU seconds). The CPU seconds of a
    process include those of the children it has reaped, so a tree's sum
    also counts Python workers that have exited."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                resident = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue                      # process ended while scanning
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[0] is field 3 of proc(5): ppid is 4, utime..cstime 14..17
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        procs[int(name)] = (int(fields[1]), resident * _PAGE, cpu)
    return procs


def _tree(root_pid: int, procs) -> list:
    children: Dict[int, list] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of ``root_pid`` and all its descendants."""
    return sum(rss for _, rss, _ in _tree(root_pid, _scan()))


def tree_cpu_s(root_pid: int = 0) -> float:
    """User + system CPU seconds used so far by ``root_pid`` (default: this
    process) and all its descendants."""
    return sum(cpu for _, _, cpu in _tree(root_pid or os.getpid(), _scan()))

