"""Host memory-bandwidth probe, taken next to each traced run.

``warm_gbps`` copies between two buffers whose pages are already
mapped; ``cold_gbps`` writes a freshly allocated buffer, so it pays the
first-touch page faults that a throttled host slows down.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

PROBE_BYTES = 64 << 20


def probe(reps: int = 5) -> dict:
    src = np.ones(PROBE_BYTES, dtype=np.uint8)
    dst = np.empty_like(src)
    dst[:] = 0
    warm, cold = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        warm.append(PROBE_BYTES / (time.perf_counter() - t0) / 1e9)
        t0 = time.perf_counter()
        fresh = np.empty(PROBE_BYTES, dtype=np.uint8)
        fresh.fill(1)
        cold.append(PROBE_BYTES / (time.perf_counter() - t0) / 1e9)
        del fresh
    return {"host.warm_gbps": statistics.median(warm),
            "host.cold_gbps": statistics.median(cold)}
