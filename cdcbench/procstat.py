"""Process accounting from ``/proc``: CPU seconds and peak RSS of the Spark
JVM, the Python driver and the JVM's Python workers (``pyspark.daemon`` and
the workers it forks)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2:].split()


def children_map() -> dict[int, list[int]]:
    """ppid -> child pids, for every live process."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            out.setdefault(int(fields[1]), []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    kids = children_map()
    out: list[int] = []
    todo = list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def python_workers(jvm_pid: int) -> list[int]:
    """The JVM's Python worker processes (daemon + forked workers)."""
    out = []
    for p in descendants(jvm_pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().startswith("python"):
                    out.append(p)
        except OSError:
            pass
    return out


def cpu_s(pids: list[int]) -> float:
    """utime + stime + reaped children's cutime + cstime, in seconds. A
    worker that exits is reaped by the daemon, so its time moves into the
    daemon's cutime and a before/after delta over the tree still counts it."""
    ticks = 0
    for p in pids:
        fields = _stat_fields(p)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def vm_hwm_mb(pid: int) -> float:
    """High-water resident set size (``VmHWM``) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (``steal`` in
    ``/proc/stat``), summed over all CPUs, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK
