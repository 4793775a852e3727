"""Host readings from /proc: co-tenant CPU load, process-tree CPU and RSS.

The co-tenant load is a diagnostic, not a metric: it makes a slow op
attributable. It is the busy cores of the whole host during an op's
window minus the cores this benchmark's own process tree (Python driver,
JVM, Python workers) used; hypervisor steal time counts as busy. The
tree's CPU time is what the end-to-end timing metrics count, and its RSS
feeds ``session.peak_rss_mb``.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _host_busy_ticks() -> int:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    idle = fields[3] + (fields[4] if len(fields) > 4 else 0)  # idle + iowait
    return sum(fields[:8]) - idle


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid`` (not ``pid`` itself)."""
    return _tree(pid)[1:]


def _tree_ticks_and_rss(root: int) -> tuple[int, int]:
    ticks = rss_kb = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat (1-based)
        ticks += sum(int(x) for x in fields[11:15])
        rss_kb += int(fields[21]) * _PAGE_KB
    return ticks, rss_kb


class LoadWindow:
    """Foreign busy cores over a window: (host busy - own tree busy) / wall."""

    def __init__(self) -> None:
        self._pid = os.getpid()
        self._t = time.monotonic()
        self._host = _host_busy_ticks()
        self._own, _ = _tree_ticks_and_rss(self._pid)

    def foreign_cores(self) -> float:
        wall = time.monotonic() - self._t
        host = _host_busy_ticks() - self._host
        own, _ = _tree_ticks_and_rss(self._pid)
        own -= self._own
        return max(0.0, (host - own) / _TICK / wall) if wall > 0 else 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, including reaped children. Time the hypervisor stole from
    the host's vCPUs is not in it."""
    return _tree_ticks_and_rss(os.getpid())[0] / _TICK


def tree_rss_mb() -> float:
    """Sum of RSS over this process and all its descendants."""
    return _tree_ticks_and_rss(os.getpid())[1] / 1024

