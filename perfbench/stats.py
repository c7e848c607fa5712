"""Summary statistics and name checks shared by the benchmark and its tests."""

from __future__ import annotations

import re

#: metric names and units as BENCHMARK.json allows them
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

#: percentiles a tail latency may be reported at, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' quantile method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, ladder: tuple[float, ...] = TAIL_LADDER) -> float | None:
    """Highest percentile of ``ladder`` with at least ten of ``n`` samples
    beyond it, or None when even the lowest has fewer."""
    best = None
    for pct in ladder:
        if n * (100.0 - pct) / 100.0 >= 10.0 - 1e-9:
            best = pct
    return best


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover.

    Children may overlap each other; only the union of their intervals,
    clipped to the parent, is subtracted."""
    start, end = span["start"], span["end"]
    ivs = sorted(
        (max(c["start"], start), min(c["end"], end)) for c in children
    )
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered
