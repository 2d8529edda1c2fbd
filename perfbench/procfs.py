"""Readings from ``/proc``: the CPU time and peak memory of the
benchmark's process tree (this process, the driver JVM it starts, the
PySpark daemon and its workers) and the host's CPU steal."""

from __future__ import annotations

import glob
import os
import resource


def process_tree() -> set[int]:
    """This process and every live descendant: the driver JVM, the
    PySpark daemon and its workers."""
    me = os.getpid()
    parent: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(stat.split("/")[2])] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {me}, [me]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the process tree,
    including children it has reaped. Raises where ``/proc`` cannot be
    read, rather than report a CPU time of 0."""
    total, read = 0, False
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
            read = True
        except (OSError, IndexError, ValueError):
            continue
    if not read:
        raise RuntimeError("cannot read the process tree's CPU time "
                           "from /proc")
    return total / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Summed peak resident memory (VmHWM) of the process tree. Read
    before shutdown, so all of it is still alive."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    if kb == 0:                      # no /proc: this process only
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return kb / 1024


def cpu_steal_ticks() -> tuple[int, int] | None:
    """(steal, all) jiffies of the host's CPUs from ``/proc/stat``, or
    None where it is not available."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7], sum(fields[:8])) if len(fields) >= 8 else None
