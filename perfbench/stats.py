"""Order statistics and drift probes."""

from __future__ import annotations

import math
import time


def percentile(samples, q: float) -> float:
    """Nearest-rank q-th percentile. Refuses a percentile with fewer
    than ten samples beyond it (p99 needs at least 1,000 samples)."""
    n = len(samples)
    if n * (100 - q) < 1000:
        need = math.ceil(1000 / (100 - q))
        raise ValueError(f"p{q:g} needs at least {need} samples, got {n}")
    return sorted(samples)[math.ceil(q / 100 * n) - 1]


def py_loop_ms(n: int = 400_000) -> float:
    """Fixed pure-Python loop, timed: a slow host window reads high."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) & 0xFFFF
    return (time.perf_counter() - t0) * 1e3


def membw_gbps(mib: int = 64, reps: int = 3) -> float:
    """Single-thread copy bandwidth (GB/s, best of `reps`) over a buffer
    larger than the last-level cache; co-tenant memory traffic lowers it
    without showing up as CPU steal."""
    import numpy as np

    src = np.ones(mib * 1024 * 1024 // 8, dtype=np.int64)
    dst = np.empty_like(src)
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return 2 * mib / 1024 / best  # one read and one write of the buffer
