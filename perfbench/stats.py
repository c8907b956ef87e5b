"""Percentiles, span self time and per-layer roll-ups."""

from __future__ import annotations

import math
import statistics


def tail_percentile(n: int, cap: int = 90) -> int | None:
    """The highest whole percentile, at most ``cap``, that has at least
    ten samples beyond it (nearest-rank); None below 20 samples."""
    for p in range(cap, 49, -1):
        if n - math.ceil(p * n / 100) >= 10:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of a non-empty sequence."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered) / 100))
    return ordered[rank - 1]


def latency_summary(values) -> dict:
    """Median plus the tail percentile the sample count supports."""
    n = len(values)
    p = tail_percentile(n)
    return {"n": n, "p50": statistics.median(values),
            "tail_pct": p,
            "tail": percentile(values, p) if p is not None else max(values)}


def union_length(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part its children cover.
    Children are clipped to the parent's interval; overlapping
    children (threads) are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        kids = [(max(a, s["t0"]), min(b, s["t1"]))
                for a, b in children.get(s["id"], ())]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(kids)
    return out


def attach_to_roots(roots: list[dict], spans: list[dict],
                    key: str = "user") -> None:
    """Give each top-level server span the client root span (same
    ``key`` attribute, interval containing the span's midpoint) as its
    parent. Each client is closed loop, so at most one root matches."""
    by_key: dict[object, list[dict]] = {}
    for r in roots:
        by_key.setdefault(r.get(key), []).append(r)
    for s in spans:
        if s.get("parent") is not None:
            continue
        mid = (s["t0"] + s["t1"]) / 2
        for r in by_key.get(s.get(key), ()):
            if r["t0"] <= mid <= r["t1"]:
                s["parent"] = r["id"]
                break
