"""Arithmetic the benchmark reports with: percentiles, span self time,
host steal and fixture stamps. Kept free of I/O beyond /proc and file
stats so perfbench/test_stats.py can pin it."""
import math
import os


def percentile(values, q):
    """The `q`-quantile of `values` (nearest rank), capped at the highest
    quantile that still has at least 10 samples beyond it.

    Returns (value, quantile used, sample count). With fewer than 11
    samples no quantile has 10 beyond it and the median is reported."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    used = min(q, max(0.5, 1.0 - 10.0 / n))
    return xs[min(n - 1, max(0, math.ceil(used * n - 1e-9) - 1))], used, n


def median(values):
    return percentile(values, 0.5)[0]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, reach = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - covered(kids.get(s["id"], []), s["start_us"], s["end_us"])
            for s in spans}


def cpu_stat(path="/proc/stat"):
    """(steal, total) jiffies of the host since boot; (0, 0) if unknown.
    The denominator is the first eight fields: guest time is already
    folded into user and nice."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith("cpu "):
                    v = [int(x) for x in line.split()[1:]]
                    return (v[7] if len(v) > 7 else 0), sum(v[:8])
    except OSError:
        pass
    return 0, 0


def steal_pct(before, after):
    """Share of host CPU time stolen between two cpu_stat() readings,
    in percent; -1 when the counters did not advance."""
    steal, total = after[0] - before[0], after[1] - before[1]
    return 100.0 * steal / total if total > 0 else -1.0


def stamp(paths):
    """Identity of a set of files: name, size and mtime of each. A file
    rewritten in place changes it."""
    parts = []
    for p in sorted(paths):
        st = os.stat(p)
        parts.append(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)
