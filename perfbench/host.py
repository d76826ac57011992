"""Peak memory of the benchmark process and its descendants (the JVM and
its Python workers), and the machine's CPU steal, read from /proc."""

from __future__ import annotations

import os


def process_tree() -> list[int]:
    """This process's pid followed by those of all its descendants."""
    ppid = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while listing
    tree, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(c for c, pp in ppid.items() if pp == p)
    return tree


def peak_rss_mb(*pids: int) -> float:
    """Sum of the peak resident sizes (VmHWM) of the given processes."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue  # exited since the tree was listed
    return kb / 1024.0


def cpu_times() -> list[int]:
    """The machine-wide CPU times (jiffies) of the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time between two ``cpu_times`` readings
    that the hypervisor gave to other guests (the eighth field, steal)."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else 0.0
