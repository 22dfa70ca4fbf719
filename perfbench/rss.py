"""Peak resident memory of a process tree, sampled from outside it.

    python3 perfbench/rss.py <pid>

Every 100 ms it sums the resident memory of ``pid`` and every process
below it (for the Spark driver JVM: the Python daemon and workers), read
from /proc; the tree is re-listed every second. When a line arrives on
standard input (or it closes) it prints the peak in bytes and exits.
"""

from __future__ import annotations

import os
import select
import sys


def tree(pid: int) -> list[int]:
    """``pid`` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        out.append(todo.pop())
        todo.extend(children.get(out[-1], []))
    return out


def main(pid: int) -> None:
    page = os.sysconf("SC_PAGE_SIZE")
    peak, pids, tick = 0, [], 0
    while not select.select([sys.stdin], [], [], 0.1)[0]:
        if tick % 10 == 0:
            pids = tree(pid)
        tick += 1
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * page
            except (OSError, IndexError, ValueError):
                pass  # exited since the listing
        peak = max(peak, total)
    print(peak, flush=True)


if __name__ == "__main__":
    main(int(sys.argv[1]))
