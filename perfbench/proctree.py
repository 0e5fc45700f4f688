"""Resident memory and CPU time of a process and all of its descendants,
read from /proc (Linux)."""

from __future__ import annotations

import os

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _processes() -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command name."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = stat[stat.rindex(")") + 2:].split()
    return out


def _tree(root: int, procs: dict[int, list[str]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in procs.items():
        children.setdefault(int(fields[1]), []).append(pid)
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def tree_rss_bytes(root: int) -> int:
    procs = _processes()
    total = 0
    for pid in _tree(root, procs):
        if pid in procs:
            total += int(procs[pid][21]) * _PAGE  # rss, in pages
    return total


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the live processes in the tree."""
    procs = _processes()
    ticks = 0
    for pid in _tree(root, procs):
        if pid in procs:
            ticks += int(procs[pid][11]) + int(procs[pid][12])  # utime, stime
    return ticks / _TICK


def age_s(pid: int) -> float:
    """Seconds since process `pid` started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_processes()[pid][19]) / _TICK  # starttime, in ticks after boot


def group_alive(pgid: int) -> bool:
    """Whether any non-zombie process is left in process group `pgid`."""
    return any(f[0] != "Z" and int(f[2]) == pgid for f in _processes().values())
