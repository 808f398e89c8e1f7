"""The benchmark's own statistics, kept free of I/O so they can be tested."""
import math
import statistics

# A failed or wrong operation misses every latency limit: it enters the
# latency samples as this many seconds.
MISSED_S = 1.0e6

MIN_TAIL = 10


def percentile(values, q):
    """Linear-interpolated percentile (`q` in [0, 1]) of `values`."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of `n` samples lie beyond the `q` percentile."""
    return n - 1 - math.floor((n - 1) * q)


def tail_ok(n, q):
    """True when at least MIN_TAIL samples lie beyond the `q` percentile."""
    return samples_beyond(n, q) >= MIN_TAIL


def geomean(values):
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values):
    return statistics.median(values) if values else 0.0


def quartile_spread(values):
    """Distance between the first and third quartile, as a share of the
    median (the acceptance rule's steadiness figure)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def batch_of_offset(offset, batches):
    """The id of the batch whose offset range (start, end] holds `offset`,
    or None. `batches` holds dicts with `id`, `start` and `end`; a first
    batch has start -1. Returns the only match; raises if two overlap."""
    hits = [b["id"] for b in batches if b["start"] < offset <= b["end"]]
    if len(hits) > 1:
        raise ValueError("offset %d in batches %s" % (offset, hits))
    return hits[0] if hits else None


def open_loop_latencies(events, batches, emit_end):
    """Per offered event, the seconds from when it was due at the
    generator to the end of the emit that answered it; None when no
    emitted batch, or more than one, answered it. `events` hold `due` and
    `offset`; `emit_end` maps batch id to the emit's end time (same clock)."""
    out = []
    for e in events:
        try:
            b = batch_of_offset(e["offset"], batches)
        except ValueError:
            b = None
        end = emit_end.get(b) if b is not None else None
        out.append(None if end is None else end - e["due"])
    return out


def answered_rate(events, latencies):
    """Events answered per second, from the first event's due time (0) to
    the end of the emit that answered the last one; it falls when the
    loop falls behind the offered rate. 0 when nothing was answered."""
    ends = [e["due"] + v for e, v in zip(events, latencies) if v is not None]
    return len(ends) / max(ends) if ends else 0.0


def with_misses(values):
    """Latency samples with every miss (None) replaced by MISSED_S."""
    return [MISSED_S if v is None else v for v in values]
