"""Process-tree CPU time and peak memory, read from ``/proc``.

The tree is the benchmark process plus every descendant (the Spark JVM and
its Python workers). CPU time of a descendant that has exited and been
reaped is already folded into its parent's ``cutime``/``cstime``, so summing
``utime + stime + cutime + cstime`` over the live tree counts every tick
exactly once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str) -> list[str] | None:
    try:
        with open(f"{proc}/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name sits in parentheses and may itself contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None, proc: str = "/proc") -> list[int]:
    """``root`` and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name), proc)
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int | None = None, proc: str = "/proc") -> float:
    """User + system CPU seconds used so far by the process tree."""
    ticks = 0
    for pid in tree_pids(root, proc):
        fields = _stat_fields(pid, proc)
        if fields:
            # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def host_steal_seconds(proc: str = "/proc") -> float:
    """CPU seconds the hypervisor has run other guests on this machine's
    virtual CPUs, summed over them (``steal`` of the ``cpu`` line in
    ``/proc/stat``). Time stolen from a busy run inflates its wall time but
    not its CPU time."""
    with open(f"{proc}/stat") as fh:
        fields = fh.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def tree_peak_rss_mb(root: int | None = None, proc: str = "/proc") -> float:
    """Sum of every live tree member's resident high-water mark (VmHWM)."""
    kib = 0
    for pid in tree_pids(root, proc):
        try:
            with open(f"{proc}/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            pass
    return kib / 1024.0


def process_age_seconds(pid: int | None = None, proc: str = "/proc") -> float:
    """Seconds since ``pid`` (default: this process) was started."""
    fields = _stat_fields(os.getpid() if pid is None else pid, proc)
    with open(f"{proc}/uptime") as fh:
        uptime = float(fh.read().split()[0])
    # fields[19] = starttime in clock ticks after boot (stat field 22)
    return uptime - int(fields[19]) / _TICK
