"""CPU time and resident memory of the benchmark's processes, and the
vCPU steal time of the machine, all from /proc.

The driver JVM is a child of the benchmark's Python process, and the
Python workers are forked below it (JVM -> pyspark.daemon -> workers), so
the CPU of one job is the driver Python's own CPU plus that of the JVM's
process tree.
"""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while the tree was walked
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds of `root` and all its descendants, including children
    they have already reaped (a finished Python worker still counts)."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    ticks = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
        ticks += sum(int(x) for x in st[11:15])
        todo.extend(children.get(pid, ()))
    return ticks / _TICK


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus the driver Python."""
    hwm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + own_kb) / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot. On a virtual machine,
    steal is time a vCPU was ready but the host ran something else: the
    co-tenant noise a regression must be told apart from."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])
