"""CPU accounting from ``/proc``.

``tree_cpu_s`` is the CPU time (user + system) of a process and all its
live descendants: the benchmark's Python process, the JVM it launched and
the JVM's Python workers. Time a virtual CPU spends descheduled by the hypervisor
(steal) is not charged to any process; ``steal_s`` reports it for the
whole machine.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds of process ``root`` and every live descendant, with the
    children each has already reaped."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # fields[1] is ppid; fields[11:15] are utime stime cutime cstime
        stats[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
    tree, grew = {root}, True
    while grew:
        grew = False
        for pid, (ppid, _) in stats.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(stats[p][1] for p in tree if p in stats) / _TICK


def steal_s() -> float:
    """Seconds of steal summed over the machine's CPUs since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK
