"""Host record and process memory, read next to every result.

A run on a disturbed or different host shows up in its host record: core
count, the cores this run uses and a fixed pure-Python CPU calibration (the
same loop shape as ``bench_scaling.py``'s ``_burn_child``).
"""

from __future__ import annotations

import os
import time

CALIBRATION_ITERS = 2_000_000


def _burn(k: int) -> int:
    x = 0
    for i in range(k):
        x += i * i
    return x


def host_record(cores: int) -> dict:
    """nproc, cores used and the wall time of a fixed CPU-bound loop (best
    of three, so one preemption does not read as a slow host)."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        _burn(CALIBRATION_ITERS)
        walls.append(time.perf_counter() - t0)
    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "cores_used": cores,
        "cpu_calib_s": round(min(walls), 4),
    }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
