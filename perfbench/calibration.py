"""Host calibration, recorded at the start and end of every run.

The 1-thread sha256 kernel and the thread-wake latency kernel are
``bench.py``'s own, imported unchanged, so readings compare with the
``calibration_sec`` block of its records. ``bench.py``'s 32-thread
kernel oversubscribes small hosts; ``parallel_sec`` runs the same kind of
per-thread work on one thread per usable core instead. ``host_ticks``
reads the hypervisor's steal time, which is recorded next to every
timing.
"""

from __future__ import annotations

import hashlib
import os
import time
from concurrent.futures import ThreadPoolExecutor

from bench import _calibration_sec, _calibration_wake_us


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all vCPUs since boot, from /proc/stat:
    the time the hypervisor gave to other tenants, against all time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def parallel_sec(threads: int | None = None) -> float:
    """16 sha256 passes over 8 MiB on each of ``threads`` threads
    (sha256 releases the GIL): a sixteenth of ``_calibration_sec``'s
    work per thread, so on a host with ``threads`` free cores it reads
    ``_calibration_sec / 16``; more means the cores are shared."""
    n = threads or usable_cores()
    buf = bytes(8 << 20)

    def kern(_: int) -> bytes:
        h = hashlib.sha256()
        for _ in range(16):
            h.update(buf)
        return h.digest()

    t0 = time.perf_counter()
    with ThreadPoolExecutor(n) as ex:
        digests = list(ex.map(kern, range(n)))
    if not all(digests):
        raise RuntimeError("calibration kernel produced no digest")
    return round(time.perf_counter() - t0, 3)


def calibrate() -> dict[str, float]:
    return {
        "sha256_1t_s": _calibration_sec(),
        "sha256_nt_s": parallel_sec(),
        "wake_us": _calibration_wake_us(),
    }
