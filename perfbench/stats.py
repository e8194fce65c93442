"""Latency summaries with an honest tail.

A tail percentile is only reported where the run put at least
`MIN_BEYOND` samples beyond it; with fewer samples the summary falls back
to the highest percentile the samples support (never below the median).
"""
import math

MIN_BEYOND = 10
TAIL = 90


def percentile(values, q):
    """Linear-interpolated percentile (numpy's default), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(n, want=TAIL, min_beyond=MIN_BEYOND):
    """Highest percentile <= `want` with at least `min_beyond` of `n`
    samples above it, floored at 50 (the median)."""
    if n <= 0:
        raise ValueError("no samples")
    q = 100.0 * (1.0 - min_beyond / n)
    return max(50.0, min(float(want), math.floor(q)))


def summarize(values):
    """{'n', 'p50', 'tail', 'tail_q'} of a non-empty sample."""
    q = supported_tail(len(values))
    return {"n": len(values), "p50": percentile(values, 50),
            "tail": percentile(values, q), "tail_q": q}


def median(values):
    return percentile(values, 50)
