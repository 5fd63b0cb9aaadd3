"""Process-tree and machine readings from ``/proc`` (Linux)."""

from __future__ import annotations

import os


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / 2**20


def tree_cpu_s(root_pid: int) -> float:
    """CPU time of ``root_pid`` and its descendants: user and system
    time of each live process and of the children it has reaped. Time
    the hypervisor gave to other machines is not in it."""
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, in clock ticks."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other machines between
    two ``cpu_ticks`` readings: a noise gauge, not a result."""
    total = after[1] - before[1]
    return 100 * (after[0] - before[0]) / total if total else 0.0
