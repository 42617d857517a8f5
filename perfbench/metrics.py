"""Pure metric helpers of the benchmark (no Spark, no I/O)."""
import math

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values):
    """The highest percentile that has at least ten samples beyond it.

    Returns (percentile, value, n). With fewer than 20 samples no
    percentile qualifies: the tail is not measurable, and the median is
    returned as percentile 50 (the caller states n)."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p, percentile(values, p), n
    return 50.0, percentile(values, 50), n


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (overlapping children counted once).

    `spans` is a list of dicts with id, parent (0 for a root), start_ms and
    end_ms; returns {id: self_ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ivs = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def visible_latencies(live_segments, calls, bad_lines=()):
    """Record-to-visible latency (ms) of every clean live-phase line.

    A line is due when its segment was due to be written; it is visible
    when the first completed upsert call whose offset range holds it
    returns. `calls` are (start, end, exit_ms) with exit_ms < 0 for a call
    that never returned. A line that never became visible is returned as
    None, so callers can count it as lost."""
    bad = set(bad_lines)
    done = sorted((c for c in calls if c[2] >= 0), key=lambda c: c[2])
    out = []
    for seg in live_segments:
        for line in range(seg["first"], seg["first"] + seg["lines"]):
            if line in bad:
                continue
            vis = next((c[2] for c in done if c[0] <= line < c[1]), None)
            out.append(None if vis is None else vis - seg["due_ms"])
    return out
