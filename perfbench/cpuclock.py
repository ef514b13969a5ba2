"""CPU time of this process and every process it started (the Spark JVM
and its Python workers), from /proc.

On a shared host the wall time of a Spark job moves with other tenants'
load (CPU steal); the CPU time the job's processes consume does not count
the time they waited for the host, so it is the steadier measure of the
work an operation costs.
"""

from __future__ import annotations

import os
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table():
    """{pid: (ppid, cpu ticks incl. reaped children)} for every process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        rest = stat[stat.rindex(")") + 2:].split()
        table[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return table


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and
    all its live descendants, plus what their reaped children used.
    Resolution is one clock tick (usually 10 ms)."""
    table = _proc_table()
    children = defaultdict(list)
    for pid, (ppid, _) in table.items():
        children[ppid].append(pid)
    total, stack = 0, [root or os.getpid()]
    while stack:
        pid = stack.pop()
        total += table.get(pid, (0, 0))[1]
        stack.extend(children[pid])
    return total / _TICK
