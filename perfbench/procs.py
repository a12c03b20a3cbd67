"""Figures of a process tree, read from /proc: descendants, CPU time, RSS."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def table() -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, CPU ticks of the process and of its ended
    children it waited for, resident pages)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]),
                       int(fields[21]))
    return out


def descendants(root: int, tab: dict[int, tuple[int, int, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in tab.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its
    descendants, ended ones included. CPU time leaves out the time a shared
    host's other guests took the cores."""
    tab = table()
    return sum(tab[p][1] for p in [root, *descendants(root, tab)] if p in tab) / CLK_TCK


def tree_rss_bytes(root: int) -> int:
    tab = table()
    return sum(tab[p][2] for p in [root, *descendants(root, tab)] if p in tab) * PAGE
