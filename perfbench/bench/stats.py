"""Statistics and bookkeeping for the benchmark's results.

Everything here is pure: the runner feeds it the raw samples, counters and
spans the JVM side recorded, and the tests pin each rule.
"""
import math
import statistics

#: percentiles considered for a tail figure, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    """Median of a non-empty sample."""
    if not values:
        raise ValueError("median of an empty sample")
    return statistics.median(values)


def percentile(values, p):
    """Linear-interpolation percentile (the 'linear' method: rank
    p/100 * (n - 1) between the sorted neighbours)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    xs = sorted(values)
    rank = p / 100.0 * (len(xs) - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def samples_beyond(n, p):
    """How many of n samples lie strictly beyond the p-th percentile."""
    return n - math.ceil(n * p / 100.0)


def tail_percentile(values, min_beyond=10, candidates=TAIL_CANDIDATES):
    """The highest percentile with at least `min_beyond` samples beyond
    it, as (p, value); None when even the median has too few."""
    for p in candidates:
        if samples_beyond(len(values), p) >= min_beyond:
            return p, percentile(values, p)
    return None


def summary(values):
    """Median, tail percentile and sample count of one timing."""
    out = {"n": len(values), "p50": median(values) if values else None}
    tail = tail_percentile(values)
    if tail:
        out["tail_p"], out["tail"] = tail
    return out


def failed_frac(attempted, failed):
    """Failed operations over attempted ones; a run that attempted
    nothing is itself a failure."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def write_amp(bytes_written, raw_bytes):
    """Data-file bytes the cycles wrote over raw bytes of the rows they
    were given, summed over cycles."""
    raw = sum(raw_bytes)
    if raw <= 0:
        raise ValueError("write amplification needs raw bytes > 0")
    return sum(bytes_written) / raw


def opens_per_archive(opens_per_cycle, archives):
    """Archive stream opens per cycle over the archives each cycle
    planned: 1.0 means every archive is decoded exactly once."""
    if archives < 1 or not opens_per_cycle:
        raise ValueError("opens per archive needs archives and cycles")
    return sum(opens_per_cycle) / (len(opens_per_cycle) * archives)


def tracing_overhead(traced, untraced):
    """Median over neighbouring calls of traced minus untraced time.
    Calls alternate traced, untraced, traced, ... so each difference
    pairs a call with its neighbour, and the drift of a still-warming
    JVM enters with alternating sign instead of as a bias."""
    seq = []
    for i in range(len(traced) + len(untraced)):
        src = traced if i % 2 == 0 else untraced
        if i // 2 >= len(src):
            break
        seq.append(src[i // 2])
    diffs = [a - b if i % 2 == 0 else b - a for i, (a, b) in enumerate(zip(seq, seq[1:]))]
    return median(diffs) if diffs else None


def _covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its children cover. Children may overlap each other
    or stick out of the parent; only their union inside the parent
    counts. `spans` are dicts with id, parent, start_ns, end_ns."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        inside = [(max(c["start_ns"], lo), min(c["end_ns"], hi))
                  for c in kids.get(s["id"], [])]
        inside = [(a, b) for a, b in inside if b > a]
        out[s["id"]] = (hi - lo) - _covered(inside)
    return out


def descendants(spans, root_ids):
    """Ids of the given spans and every span below them."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    seen, todo = set(), list(root_ids)
    while todo:
        i = todo.pop()
        if i not in seen:
            seen.add(i)
            todo += kids.get(i, [])
    return seen
