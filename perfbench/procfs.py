"""CPU time and memory of this process tree, read from ``/proc``."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, CPU seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), comm, ticks / _TICK


def tree(root: int | None = None) -> dict[int, tuple[int, str, float]]:
    """Every live process under ``root`` (default: this one), inclusive."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                procs[int(entry)] = st
    return subtree(procs, os.getpid() if root is None else root)


def subtree(
    procs: dict[int, tuple[int, str, float]], root: int
) -> dict[int, tuple[int, str, float]]:
    out = {}
    frontier = [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            frontier.extend(p for p, st in procs.items() if st[0] == pid)
    return out


def cpu_seconds(procs: dict[int, tuple[int, str, float]]) -> float:
    """CPU of a process tree: live members plus the children they reaped."""
    return sum(st[2] for st in procs.values())


def pyworker_cpu_seconds(procs: dict[int, tuple[int, str, float]], jvm: int | None) -> float:
    """CPU of the Python worker processes the JVM forked (daemon + workers)."""
    if jvm is None:
        return 0.0
    total = 0.0
    for pid, st in procs.items():
        if st[0] == jvm and st[1].startswith("python"):
            total += cpu_seconds(subtree(procs, pid))
    return total


def vm_hwm_mb(pid: int | None) -> float:
    """Peak resident set size of one process, in MiB."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK
