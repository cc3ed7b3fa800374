"""Ambient probes, recorded before and after each run as diagnostics.

The same two single-threaded probes as the legacy ``bench.py``
calibration: a cache-resident CPU loop (sha256 over a 64 KiB buffer) and
a memory-latency random-stride walk over 64 MiB.  They describe the
machine while the run happened; no sample is dropped or adjusted by them.

``run.py`` runs them as ``python3 probes.py`` in a child process, which
prints ``ambient()`` as JSON, so the probe buffer never counts in the
benchmark process's peak memory.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import time


def cpu_probe() -> float:
    buf = b"x" * 65536
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(2000):
        h.update(buf)
    h.digest()
    return time.perf_counter() - t0


def mem_probe(mem: bytearray) -> float:
    # random-stride byte walk: ~200k dependent cache misses
    mask = len(mem) - 1
    t0 = time.perf_counter()
    i = s = 0
    for _ in range(200_000):
        s += mem[i]
        i = (i * 1103515245 + 12345 + s) & mask
    return time.perf_counter() - t0


def ambient(repeats: int = 3) -> dict:
    """Median seconds of each probe over ``repeats`` samples, and every
    sample."""
    mem = bytearray(64 << 20)
    cpu = [cpu_probe() for _ in range(repeats)]
    walk = [mem_probe(mem) for _ in range(repeats)]
    return {
        "cpu_s": statistics.median(cpu),
        "mem_s": statistics.median(walk),
        "cpu_samples": cpu,
        "mem_samples": walk,
    }


if __name__ == "__main__":
    print(json.dumps(ambient()))
