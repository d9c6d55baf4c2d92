"""Latency statistics, host calibration and memory readings."""

from __future__ import annotations

import os
import resource
import time

# Percentiles a tail may be reported at, highest first.
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_level(n: int) -> float:
    """The highest percentile with at least ten samples beyond it.

    With fewer than 20 samples no level of ``TAIL_LEVELS`` has ten samples
    beyond it; the tail is then the slowest sample (level 100), and the
    output records the sample count next to it."""
    for p in TAIL_LEVELS:
        if n * (1000 - round(p * 10)) >= 10 * 1000:  # in tenths of a percent
            return p
    return 100.0


def latency_summary(latencies_s: list[float]) -> dict:
    n = len(latencies_s)
    level = tail_level(n)
    return {
        "n": n,
        "p50_ms": percentile(latencies_s, 50) * 1e3,
        "tail_ms": percentile(latencies_s, level) * 1e3,
        "tail_level": level,
        "beyond_tail": sum(1 for x in latencies_s if x > percentile(latencies_s, level)),
    }


def overhead_ratio(untraced: dict[str, list[float]], traced: dict[str, list[float]]) -> float:
    """Tracing overhead: traced over untraced median latency, median over
    operation kinds, minus 1."""
    ratios = [percentile(traced[k], 50) / percentile(v, 50)
              for k, v in untraced.items() if v and traced.get(k)]
    return percentile(ratios, 50) - 1 if ratios else 0.0


def calibrate() -> float:
    """Milliseconds for a fixed single-thread CPU loop; timed at the start
    and end of every run so shifts in host capacity show in the output."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t) * 1e3


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water resident set of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path`` (no checksums/markers)."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
