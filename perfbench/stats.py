"""The benchmark's own arithmetic: percentiles, interval unions, span self
times and the seeded op lists. Pure Python, no Spark, so it is tested on
its own (test_stats.py)."""

from __future__ import annotations

import random


def tail_quantile(n: int, cap: float = 0.9) -> float:
    """The highest quantile, at most ``cap``, that leaves at least ten of
    ``n`` samples above it. Below 20 samples no quantile above the median
    qualifies, and the median is used."""
    if n < 20:
        return 0.5
    return min(cap, (n - 10) / n)


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of ``values`` (0 <= q <= 1)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(values) -> dict:
    """Median and tail of a latency sample, with the tail's quantile and
    the sample count, so a reader sees what the tail number rests on."""
    q = tail_quantile(len(values))
    return {
        "p50": quantile(values, 0.5),
        "tail": quantile(values, q),
        "tail_q": round(q, 4),
        "n": len(values),
    }


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals, counting
    overlaps once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """Self time of every span: its duration minus the part of it that its
    direct children cover. ``spans`` are dicts with ``id``, ``parent``,
    ``start`` and ``end``; children are clipped to their parent."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], ())
        )
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def seeded_ops(seed: int, workload: str, round_no: int, ops: list) -> list:
    """The op list of one round: ``ops`` in an order drawn from
    (seed, workload, round). Same arguments, same list."""
    out = list(ops)
    random.Random(f"{seed}:{workload}:{round_no}").shuffle(out)
    return out
