"""Untimed host canary: memory bandwidth and scatter latency.

Recorded at the start and end of every run as a diagnostic of the host's
state. It never discards, retries or adjusts a run.
"""

from __future__ import annotations

import threading
import time

import numpy as np


def canary(threads: int, seconds: float = 0.3) -> dict:
    rng = np.random.default_rng(0)
    rows = 200_000
    pos = rng.integers(0, 576, (rows, 10), dtype=np.int64).ravel()
    out = np.zeros((rows, 9), dtype=np.uint64)
    t0 = time.perf_counter()
    np.bitwise_or.at(out, (np.repeat(np.arange(rows), 10), pos >> 6),
                     np.uint64(1) << (pos & 63).astype(np.uint64))
    scatter_ms = (time.perf_counter() - t0) * 1e3

    words = (16 << 20) // 8
    bufs = [(np.ones(words, np.uint64), np.ones(words, np.uint64),
             np.zeros(words, np.uint64)) for _ in range(threads)]
    for a, b, o in bufs:  # fault the pages in first: stream, not faults
        np.bitwise_or(a, b, out=o)
    moved = [0] * threads
    stop = time.perf_counter() + seconds

    def stream(i: int) -> None:
        a, b, o = bufs[i]
        while time.perf_counter() < stop:
            np.bitwise_or(a, b, out=o)
            moved[i] += 3 * words * 8

    workers = [threading.Thread(target=stream, args=(i,))
               for i in range(threads)]
    t0 = time.perf_counter()
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    gbps = sum(moved) / (time.perf_counter() - t0) / 1e9
    return {"stream_gbps": gbps, "scatter_ms": scatter_ms}
