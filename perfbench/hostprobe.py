"""Host-drift record and process memory.

The drift probes are single-process on purpose: a multi-process probe
would compete with the Spark executor threads for the same cores.
Their values are recorded beside each run, not reported as metrics, so
a reader can tell a slower host from slower code.
"""

from __future__ import annotations

import hashlib
import os
import time


def steal_s() -> float:
    """CPU time the hypervisor has given this machine's CPUs to other
    guests since boot (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def drift_record() -> dict:
    t0 = time.perf_counter()
    d = b"perfbench"
    for _ in range(200_000):
        d = hashlib.sha256(d).digest()
    cpu_s = time.perf_counter() - t0

    import numpy as np

    a = np.ones(64 * 1024 * 1024 // 8)  # 64 MiB: far beyond any cache
    t0 = time.perf_counter()
    for _ in range(4):
        a.sum()
    mem_s = time.perf_counter() - t0
    del a
    reset_peak_rss()  # the probe's array must not count as the program's memory
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m_at_start": os.getloadavg()[0],
        "cpu_burn_s": round(cpu_s, 4),
        "mem_stream_s": round(mem_s, 4),
    }


def children(pid: int) -> list[int]:
    """Direct children of ``pid``, from /proc/<pid>/task/*/children."""
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss() -> None:
    """Reset this process's ``VmHWM`` to its current resident size."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus all its descendants
    (the Spark JVM and any Python workers), from ``VmHWM``."""
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += _vm_hwm_kb(pid)
        todo.extend(children(pid))
    return total / 1024
