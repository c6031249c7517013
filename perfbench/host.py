"""Host-quality record and process memory. Recorded with every run; gates
nothing.

The record is taken with no JVM alive: once before the first session starts
and once after the last one has exited. It holds hypervisor steal over the
run window (from ``/proc/stat``) and a fixed pure-Python probe. A load
average sampled after the run would mostly show the benchmark's own load,
so only the one sampled before the JVM starts is kept.
"""

from __future__ import annotations

import os
import time


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies over user..steal, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def probe_s() -> float:
    """Seconds for a fixed pure-Python loop: host speed, not engine speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc = (acc * 1103515245 + i) & 0xFFFFFFFFFFFF
    if acc < 0:
        raise AssertionError("unreachable")
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise ValueError(f"no VmHWM for pid {pid}")


class HostRecord:
    def __init__(self) -> None:
        self.ticks0 = cpu_ticks()
        self.loadavg_before = os.getloadavg()[0]
        self.probe_before_s = probe_s()

    def finish(self) -> dict:
        probe_after = probe_s()
        ticks1 = cpu_ticks()
        steal = None
        if self.ticks0 and ticks1 and ticks1[1] > self.ticks0[1]:
            steal = 100.0 * (ticks1[0] - self.ticks0[0]) / (ticks1[1] - self.ticks0[1])
        return {
            "steal_pct": steal,
            "probe_before_s": self.probe_before_s,
            "probe_after_s": probe_after,
            "probe_drift": probe_after / self.probe_before_s - 1.0,
            "loadavg1_before_jvm": self.loadavg_before,
            "cpus": os.cpu_count(),
        }
