"""Summary statistics the benchmark reports.  Pure Python, no Spark."""

from __future__ import annotations

import statistics


def median(values) -> float:
    return float(statistics.median(values))


def mean(values) -> float:
    return float(statistics.fmean(values))


def tail(values, beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile of ``values`` that still has at least
    ``beyond`` samples above it: ``(value, percentile, sample_count)``.

    With ``n`` samples sorted ascending, the sample at 0-based rank
    ``n - beyond - 1`` has exactly ``beyond`` samples after it; its
    nearest-rank percentile is ``100 * (n - beyond) / n``.  ``None`` when
    the sample is too small to support any such percentile
    (``n <= beyond``), so a tail is never reported from a handful of
    samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    return float(xs[n - beyond - 1]), 100.0 * (n - beyond) / n, n


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Self time of each span: its duration minus the part of its interval
    covered by its direct children.  ``spans`` carry ``start``, ``end``
    and ``parent`` (index into ``spans`` or ``None``).  Overlapping
    children are counted once, and a child running past its parent's end
    only covers up to that end."""
    children: list[list[tuple[float, float]]] = [[] for _ in spans]
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - covered(children[i], s["start"], s["end"])
        for i, s in enumerate(spans)
    ]
