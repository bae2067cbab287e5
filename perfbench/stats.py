"""Statistics the benchmark reports: medians, the tail-percentile rule,
span self time, and space amplification."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def gmean_of_medians(ops):
    """Geometric mean over distinct ops (by name) of each op's median
    latency: the typical op of a fixed mix, every op weighted alike, so
    it does not jump when the sample median crosses a gap between two
    ops' latencies."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["ms"])
    if not by:
        return None
    return math.exp(sum(math.log(median(v)) for v in by.values()) / len(by))


def tail(xs, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it, by nearest rank: (percentile, value, sample count), or None when
    there are too few samples for any percentile above the median to
    keep `beyond` samples past it."""
    n = len(xs)
    if n < 2 * beyond + 1:
        return None
    pct = math.floor(100 * (n - beyond) / n)
    rank = math.ceil(pct * n / 100)  # 1-based nearest rank, <= n - beyond
    return pct, sorted(xs)[rank - 1], n


def covered(interval, parts):
    """Length of `interval` covered by the union of `parts`, each
    clipped to `interval`."""
    lo, hi = interval
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in parts if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span, children)


def space_amp(stored_bytes, plain_bytes):
    """Bytes kept under the table directories over the bytes of the same
    final rows written once as plain parquet."""
    return stored_bytes / plain_bytes if plain_bytes > 0 else None
