"""Host-load canary for the benchmark records.

``cpu_probe`` runs a fixed single-core Python loop and reports its
throughput; ``bench.py`` records it next to every run, so a record taken
while other tenants burned CPU shows the dip instead of hiding it.

Usage: python bench_scaling.py [seconds]   (prints units/sec)
"""

from __future__ import annotations

import sys
import time


def cpu_probe(seconds: float = 1.5) -> float:
    """Single-core fixed-loop throughput (units/sec) — an external-load
    canary: identical code, so dips mean other tenants are burning CPU."""
    t0 = time.perf_counter()
    x = 0.0
    n = 0
    while time.perf_counter() - t0 < seconds:
        for _ in range(100_000):
            x = x * 1.0000001 + 1.0
        n += 1
    return round(n / (time.perf_counter() - t0), 1)


if __name__ == "__main__":
    print(cpu_probe(float(sys.argv[1]) if len(sys.argv) > 1 else 1.5))
