"""Readings from ``/proc`` about the benchmark's own process tree (the
driver Python, the JVM and any Python workers) and the machine."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cpu_ticks(stat: str) -> int:
    f = stat.rsplit(")", 1)[1].split()
    return int(f[11]) + int(f[12])


def peak_rss_mb() -> dict[str, float]:
    """Peak resident size (VmHWM, MB) of each process in the tree, by
    ``<pid>:<name>``."""
    out = {}
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[f"{pid}:{name}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def work_cpu_s() -> float:
    """User plus system CPU seconds used so far by the process tree, less
    those of the JVM's JIT compiler threads.

    Compilation is warm-up work whose timing follows the host's load: on
    a busy host the compiler threads fall behind and compile during later
    ops. The JVM must keep its compiler threads alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or a thread's seconds
    leave the subtrahend when it exits. The kernel counts time stolen by
    the hypervisor as steal, not as the process's."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ticks += _cpu_ticks(fh.read())  # includes exited threads
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, IndexError, ValueError):
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
                if "CompilerThre" in stat[stat.index("("):stat.rindex(")")]:
                    ticks -= _cpu_ticks(stat)
            except (OSError, IndexError, ValueError):
                continue
    return ticks / _TICK


def steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)
