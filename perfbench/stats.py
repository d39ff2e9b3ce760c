"""Order statistics and span arithmetic for the benchmark.

Pure functions over plain numbers, so they are unit-tested without Spark
(``python -m pytest perfbench/tests``).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """Linearly interpolated ``q``-th percentile (0..100) of ``values``.

    Same definition as ``numpy.percentile``'s default and the inclusive
    method of ``statistics.quantiles``: rank ``q/100 * (n - 1)`` over the
    sorted sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = q / 100.0 * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th
    percentile's rank (the samples that decide a tail percentile)."""
    return n - 1 - math.floor(q / 100.0 * (n - 1)) if n else 0


def supports_percentile(n: int, q: float, min_beyond: int = 10) -> bool:
    """True when ``n`` samples put at least ``min_beyond`` of them beyond
    the ``q``-th percentile, so the tail figure is not one outlier."""
    return samples_beyond(n, q) >= min_beyond


def geomean(values: Iterable[float]) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals: Iterable[tuple[float, float]],
                 clip: tuple[float, float] | None = None) -> float:
    """Total length covered by ``intervals`` (overlaps counted once),
    optionally clipped to ``clip = (start, end)``."""
    ivs = []
    for s, e in intervals:
        if clip is not None:
            s, e = max(s, clip[0]), min(e, clip[1])
        if e > s:
            ivs.append((s, e))
    ivs.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Self time per span id: duration minus the part of the span's
    interval that its direct children cover.

    ``spans`` are dicts with ``span_id``, ``parent`` (a span id or None),
    ``start`` and ``end``."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["span_id"]: (s["end"] - s["start"]) - union_length(
        children.get(s["span_id"], ()), clip=(s["start"], s["end"]))
        for s in spans}
