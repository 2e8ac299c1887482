"""Summary statistics and process measurements for the benchmark."""

from __future__ import annotations

import math
import os
import resource
import statistics
import time

TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10  # samples a reported percentile must have above it


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (rounded
    first, so 99.9% of 10000 is rank 9990 despite binary fractions)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(p, len(ordered)) - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest tail percentile with at least ten samples beyond it, as
    ``(p, value)``, or None when the sample is too small for any."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def _tree_ticks(pid: int) -> int:
    """User + system clock ticks of process ``pid``, every thread, plus those
    of its descendants: the ones still running and (through the kernel's
    per-parent totals) the ones that have ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:  # ended since it was listed; its parent now counts it
        return 0
    children = []
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                children += f.read().split()
        except FileNotFoundError:  # a thread that has ended since the listing
            pass
    own = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return own + sum(_tree_ticks(int(c)) for c in children)


class CpuClock:
    """CPU seconds (user + system, every thread) used so far by the driver
    JVM with the Python workers it starts, and by this Python process.

    The guest kernel leaves out of these the time the hypervisor ran other
    machines on this one's cores (``steal`` in ``/proc/stat``), so they
    follow the work the program does far more than how busy the host's
    other tenants are.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.hz = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        t = os.times()
        return _tree_ticks(self.jvm_pid) / self.hz + t.user + t.system


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for pid {pid}")


def heap_live_mb(jvm) -> float:
    """Heap in use in the JVM behind the py4j view ``jvm`` after full
    collections.  Spark's context cleaner frees shuffle and broadcast state
    only once a collection has found it unreachable, so collect, give the
    cleaner a second, and collect again."""
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / (1024.0 * 1024.0)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + py_kb) / 1024.0
