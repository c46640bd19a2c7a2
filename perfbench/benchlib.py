"""Pure helpers of the benchmark: percentiles, span self time, backlog
growth and run-to-run spread. No I/O; `test_benchlib.py` covers them."""

import statistics

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values, min_beyond=10, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile with at least `min_beyond`
    samples above it, as (percentile, value); None when even the median
    lacks that many."""
    n = len(values)
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p, percentile(values, p)
    return None


def _union_length(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def assign_parents(spans, slack=0.002):
    """Give every span without a parent (parent < 0) the innermost span
    on the same track whose interval contains it (within `slack`
    seconds). Spans are dicts with id, parent, track, start, end."""
    by_track = {}
    for s in spans:
        by_track.setdefault(s["track"], []).append(s)
    for group in by_track.values():
        for s in group:
            if s["parent"] >= 0:
                continue
            best = None
            for c in group:
                if c is s or c["start"] > s["start"] + slack or c["end"] < s["end"] - slack:
                    continue
                width = c["end"] - c["start"]
                if width < s["end"] - s["start"]:
                    continue
                if width == s["end"] - s["start"] and c["id"] > s["id"]:
                    continue  # equal intervals: the earlier span is the parent
                if best is None or width < best["end"] - best["start"]:
                    best = c
            if best is not None:
                s["parent"] = best["id"]
    return spans


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of its
    interval that its children cover (children clipped to it)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in children.get(s["id"], [])]
        covered = [(a, b) for a, b in covered if b > a]
        own = max(0.0, (s["end"] - s["start"]) - _union_length(covered))
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def gaps(intervals, start, end):
    """The parts of [start, end] that no interval covers."""
    out, cur = [], start
    for s, e in sorted(intervals):
        s, e = max(s, start), min(e, end)
        if e <= s:
            continue
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if cur < end:
        out.append((cur, end))
    return out


def backlog_growth(samples):
    """Least-squares growth of the in-flight count (offered minus
    answered) over the sampled window, in items. `samples` are
    (t_seconds, offered, answered)."""
    if len(samples) < 2:
        return 0.0
    ts = [s[0] for s in samples]
    ys = [s[1] - s[2] for s in samples]
    mt, my = statistics.fmean(ts), statistics.fmean(ys)
    var = sum((t - mt) ** 2 for t in ts)
    if var == 0:
        return 0.0
    slope = sum((t - mt) * (y - my) for t, y in zip(ts, ys)) / var
    return slope * (ts[-1] - ts[0])


def sustained(samples, rate, allowance_s=2.0):
    """An open-loop run is sustained when the in-flight count grew by
    less than `allowance_s` seconds' worth of offered input over the
    window (a batch-shaped sawtooth does not count as growth)."""
    return backlog_growth(samples) < rate * allowance_s


def spread(values):
    """Distance between first and third quartile as a share of the
    median: the steadiness rule the bounds in BENCHMARK.json are held to."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
