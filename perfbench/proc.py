"""CPU time, peak memory and host load of the driver process and the
processes it starts (the JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return data[data.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_seconds(pid: int) -> float:
    """User plus system CPU seconds of ``pid``'s process tree, including
    children it has already reaped."""
    total = 0
    for p in descendants(pid):
        st = _stat(p)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far: the aggregate cpu line
    of /proc/stat, whose eighth field is the time the hypervisor ran other
    guests on this machine's virtual CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU ticks between two :func:`cpu_ticks` readings that
    were stolen."""
    return (after[1] - before[1]) / max(1, after[0] - before[0])


def jvm_pid(spark) -> int:
    """The JVM launched for ``spark``'s gateway (spark-submit execs it)."""
    return spark.sparkContext._gateway.proc.pid
