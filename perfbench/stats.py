"""Pure helpers for the benchmark's statistics (no Spark, no I/O)."""
import math


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def tail(xs, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it, by nearest rank. Returns (value, percentile, n). With `beyond`
    or fewer samples no percentile qualifies, and the maximum is
    returned with percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return xs[-1], 100, n
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return xs[rank - 1], p, n


def self_times(spans):
    """Per span name: (total, self) seconds. A span's self time is its
    duration minus the part of it that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        iv = sorted((max(c["start_ns"], start), min(c["end_ns"], end))
                    for c in children.get(s["id"], []))
        covered, reach = 0, start
        for a, b in iv:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        tot, own = out.get(s["name"], (0.0, 0.0))
        out[s["name"]] = (tot + (end - start) / 1e9, own + (end - start - covered) / 1e9)
    return out


def write_amp(written_bytes, batch_bytes):
    """Bytes the table wrote for a stream of batches, per byte of the
    batches themselves written once in the same format."""
    if batch_bytes <= 0:
        raise ValueError("no batch bytes")
    return written_bytes / batch_bytes


def space_amp(root_bytes, live_bytes):
    """Bytes under the table root per byte of live data files."""
    if live_bytes <= 0:
        raise ValueError("no live bytes")
    return root_bytes / live_bytes
