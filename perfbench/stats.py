"""Order statistics shared by the benchmark and its tests."""


def percentile(values, q):
    """The `q`-th percentile (0..100) by linear interpolation between the
    closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def above(values, q):
    """How many samples lie strictly above the `q`-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)
