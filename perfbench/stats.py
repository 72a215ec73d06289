"""Pure helpers behind the benchmark's numbers: percentiles, self time,
space amplification.  No Spark imports, so they test in milliseconds."""

from __future__ import annotations

import math
import os

# A percentile is only reported when at least this many samples lie
# beyond it; with fewer, the tail is one or two unlucky samples.
TAIL_MIN = 10
PERCENTILES = (50, 90, 99)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie strictly above the nearest-rank p-th
    percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def reportable(n: int, candidates=PERCENTILES) -> list[float]:
    """The percentiles that n samples support: each must leave at least
    TAIL_MIN samples beyond it."""
    return [p for p in candidates if samples_beyond(n, p) >= TAIL_MIN]


def tail(values: list[float], candidates=PERCENTILES) -> tuple[float, float] | None:
    """(p, value) for the highest reportable percentile, or None when the
    samples support none of them."""
    ok = reportable(len(values), candidates)
    if not ok:
        return None
    return ok[-1], percentile(values, ok[-1])


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Self time of every span: its duration minus the part of it covered
    by its children.  Children may overlap each other (calls made from a
    thread pool), so the covered part is the union of their intervals,
    never a plain sum.  Each span is a dict with ``start``, ``end`` and
    ``parent`` (index into ``spans`` or None)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - _covered(kids.get(i, []), s["start"], s["end"])
        for i, s in enumerate(spans)
    ]


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    """Total self time per layer (a span's ``layer`` key)."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s["layer"]] = out.get(s["layer"], 0.0) + t
    return out


def space_amp(total_bytes: int, live_bytes: int) -> float:
    """Bytes on disk under a table directory per byte of its live data
    files.  1.0 means nothing but live data; log, sidecars and files that
    commits removed but nothing has vacuumed push it up."""
    if live_bytes <= 0:
        raise ValueError("table has no live data bytes")
    return total_bytes / live_bytes


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
