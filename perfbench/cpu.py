"""CPU time of this process and every process it started (Linux /proc)."""

from __future__ import annotations

import os


def _ppid_and_ticks(pid: str) -> tuple[int, int]:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # after the command: state, ppid, ..., utime, stime, cutime, cstime
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the Spark JVM, any Python workers), each with the children it has
    reaped, so every tick is counted once.  Time the hypervisor steals
    is charged to no process: on a shared host this clock moves far
    less from run to run than wall time does."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _ppid_and_ticks(name)
            except (OSError, ValueError, IndexError):
                continue  # the process ended while the table was read
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")
