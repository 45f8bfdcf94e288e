"""Arithmetic of the benchmark's metrics, kept apart so it can be unit-checked
(`test_stats.py`)."""
import math


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def ok_share(attempted, failed):
    """Share of attempted operations that succeeded and passed their check."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return (attempted - failed) / attempted


def check_matches(expected, actual, rel_tol=1e-6):
    """A pinned expectation against an op's check value.

    Values shaped `key=<float>` compare numerically within `rel_tol`; every
    other value (row counts, digests) must match exactly. No pin: nothing to
    compare, so the op passes on not having raised."""
    if expected is None:
        return True
    if actual is None:
        return False
    ek, _, ev = str(expected).partition("=")
    ak, _, av = str(actual).partition("=")
    if ek == ak == "rmse":
        try:
            return math.isclose(float(ev), float(av), rel_tol=rel_tol)
        except ValueError:
            return False
    return str(expected) == str(actual)


def self_times(spans):
    """Span id -> duration minus the part its direct children cover (children
    of one span run one after another, so their durations add up)."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    return {s["id"]: (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e9 for s in spans}


def subtree(spans, root_ids):
    """Ids of `root_ids` and every span below them."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), list(root_ids)
    while todo:
        i = todo.pop()
        if i not in out:
            out.add(i)
            todo += kids.get(i, [])
    return out
