"""Host-speed probe: a fixed pure-Python loop on every CPU at once.

The benchmark's host is a shared virtual machine whose per-core speed
drifts by tens of percent over minutes, for the same work on the same data
(a run of four identical loops on a 4-core host measured 0.23-0.35 s).
The probe measures that drift where and when the workload runs: one
``BURN``-iteration integer loop in each of ``nproc`` processes, just before
the set-up and next to each timed operation. ``NOMINAL_S`` is a fixed
reference loop time; ``NOMINAL_S / probe`` is below 1 when the host runs
slow, and the end-to-end times are scaled by it (see ``run.end_to_end``).
"""

from __future__ import annotations

import multiprocessing as mp
import statistics
import time

BURN = 1_000_000
NOMINAL_S = 0.18


def _burn(_: int) -> float:
    t0 = time.perf_counter()
    x = 0
    for _i in range(BURN):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return time.perf_counter() - t0


class Probe:
    """A pool of ``n`` spawned processes; each call burns on all of them
    and returns the median loop time in seconds."""

    def __init__(self, n: int):
        self.n = n
        self._pool = mp.get_context("spawn").Pool(n)

    def __call__(self) -> float:
        return statistics.median(self._pool.map(_burn, range(self.n)))

    def close(self) -> None:
        self._pool.close()
        self._pool.join()
