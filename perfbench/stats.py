"""The benchmark's arithmetic: latency percentiles, span self time and
write amplification. Pure functions, covered by tests/."""
import math

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def nearest_rank(sorted_values, pct):
    """Nearest-rank percentile of an ascending list: the value at 1-based
    rank ceil(pct/100 * n)."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n - 1e-9))
    return sorted_values[rank - 1], rank


def latencies(ops):
    """Op latencies in ms, a failed op counting as an infinite latency."""
    return sorted(o["ms"] if o["ok"] else math.inf for o in ops)


def median(values):
    v = sorted(values)
    if not v:
        return math.nan
    return nearest_rank(v, 50.0)[0]


def mean(values):
    return sum(values) / len(values) if values else math.nan


def tail(values):
    """(value, percentile, samples beyond it) for the highest ladder
    percentile that leaves at least MIN_BEYOND samples beyond it. With
    fewer than 2 * MIN_BEYOND samples no percentile does; the median is
    reported then, with the (smaller) number of samples beyond it."""
    v = sorted(values)
    n = len(v)
    for pct in TAIL_LADDER:
        value, rank = nearest_rank(v, pct)
        if n - rank >= MIN_BEYOND:
            return value, pct, n - rank
    value, rank = nearest_rank(v, 50.0)
    return value, 50.0, n - rank


def failed_frac(ops):
    return sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 0.0


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    children cover (overlapping children are counted once, and only
    inside the parent's interval). Spans are (id, parent, kind, name,
    start, end) tuples."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        sid, start, end = s[0], s[4], s[5]
        ivs = sorted((max(c[4], start), min(c[5], end))
                     for c in children.get(sid, []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out


def self_time_by_kind(spans):
    """Total self time (same unit as the spans) per span kind."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s[2]] = out.get(s[2], 0) + st[s[0]]
    return out


def write_amp(bytes_written, user_bytes):
    """Bytes the engine wrote per byte of user data ingested."""
    return bytes_written / user_bytes if user_bytes else math.nan
