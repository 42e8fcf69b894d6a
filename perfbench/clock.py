"""The benchmark's clock: wall time minus an estimate of the time the
hypervisor ran other tenants on this VM's vCPUs (``steal`` in
``/proc/stat``). On a shared host that time belongs to no layer of the
program, and it comes and goes within minutes, so raw wall time of the
same code drifts far more than any change worth measuring.

A stolen second on one vCPU costs more than its 1/ncpu share of wall
time: the other tasks of a Spark stage wait for the stalled one at the
stage's end. On 4 vCPUs, ten runs per workload under 5-25% steal were
steadiest (inter-quartile range over median roughly halved) when the
share was counted twice, so ``STALL`` is 2.
"""

from __future__ import annotations

import os
import time

_HZ = os.sysconf("SC_CLK_TCK")
_NCPU = os.cpu_count() or 1
STALL = 2.0


def steal_s() -> float:
    """CPU seconds stolen from all vCPUs since boot (0 where not reported)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0


def now() -> float:
    return time.perf_counter() - STALL * steal_s() / _NCPU
