"""Peak resident memory of this process and all its descendants (the
Spark JVM, the PySpark daemon and its Python workers), read from /proc.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss() -> int:
    """Resident bytes summed over this process's tree."""
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/statm") as f:
                rss[pid] = int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(pid)
    todo, total = [os.getpid()], 0
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(kids.get(p, ()))
    return total


class PeakRss(threading.Thread):
    """Peak resident memory of the tree, sampled every 0.5 s until
    ``stop`` is set."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.stop = threading.Event()

    def run(self):
        while not self.stop.wait(0.5):
            self.peak = max(self.peak, tree_rss())
