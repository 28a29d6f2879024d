"""Host speed probes: a fixed pure-Python loop timed on every CPU just
before and just after every measured op.

On a shared virtual machine the speed of a core drifts with the load of
other guests: by close to a factor of three within an hour, and by a
third from one second to the next. The probe's time moves with that
drift, and the program under test cannot change it. So each measured
op's time is multiplied by ``REF_PROBE_S`` over the mean time of the
probes taken just before and just after it, and a set-up time likewise by
the probes around it. Scaled times read as seconds on a host where the
probe takes ``REF_PROBE_S``. The raw figures are printed in the report
next to the scaled ones.
"""

from __future__ import annotations

import os
import statistics
import time

#: loop length of one probe: about 25 ms on a 2.1 GHz core of a quiet host
PROBE_ITERS = 100_000
#: probe time that scaled times refer to
REF_PROBE_S = 0.025


def _work(n: int) -> int:
    d: dict[str, int] = {}
    s = 0
    for i in range(n):
        k = "k%d" % (i & 255)
        d[k] = d.get(k, 0) + (i * 7) % 13
        s += len(k)
    return s + len(d)


def probe() -> tuple[float, float]:
    """Wall and CPU seconds of this thread for one probe loop."""
    t0, c0 = time.perf_counter(), time.thread_time()
    _work(PROBE_ITERS)
    return time.perf_counter() - t0, time.thread_time() - c0


def probes() -> list[tuple[float, float]]:
    """The probes for one side of an op or a set-up: one on each CPU this
    process may use, with this thread pinned to it. Other guests load the
    CPUs unevenly, and the JVM's task threads run on all of them."""
    cpus = os.sched_getaffinity(0)
    out = []
    try:
        for cpu in sorted(cpus):
            os.sched_setaffinity(0, {cpu})
            out.append(probe())
    finally:
        os.sched_setaffinity(0, cpus)
    return out


def scales(taken: list[tuple[float, float]]) -> tuple[float, float]:
    """``(wall_scale, cpu_scale)``: what wall and CPU times measured while
    the probes ``taken`` were taken are multiplied by. An op's time grows
    with the mean of ``1 / speed`` over its span, and so does a probe's,
    hence the mean probe time rather than the median."""
    if not taken:
        return 1.0, 1.0
    wall = statistics.fmean(w for w, _ in taken)
    cpu = statistics.fmean(c for _, c in taken)
    return REF_PROBE_S / wall, REF_PROBE_S / max(cpu, 1e-9)
