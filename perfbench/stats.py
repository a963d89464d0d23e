"""Pure arithmetic of the benchmark: summaries, span self time, wall split."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence
from statistics import median


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals or min(vals) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated q-quantile (0 <= q <= 1) of the sorted values."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no values")
    pos = q * (len(vals) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def merged_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: Sequence[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    ``spans`` are dicts with ``start``, ``end`` and ``parent`` (the index
    of the parent span in the same list, or None).
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        kids = [
            (max(a, s["start"]), min(b, s["end"])) for a, b in children.get(i, ())
        ]
        out.append(s["end"] - s["start"] - merged_length(k for k in kids if k[1] > k[0]))
    return out


def wall_split(spans: Sequence[dict], root: int, layer_of: dict[str, str]) -> dict[str, float]:
    """Self time of every span under ``root`` (inclusive), summed per layer.

    Span names missing from ``layer_of`` land in ``unattributed_s``, so
    the values always add up to the root span's duration.
    """
    selfs = self_times(spans)
    inside = {root}
    split: dict[str, float] = {}
    for i, s in enumerate(spans):
        if i != root and s["parent"] not in inside:
            continue
        inside.add(i)
        layer = layer_of.get(s["name"], "unattributed_s")
        split[layer] = split.get(layer, 0.0) + selfs[i]
    return split


def warm_summary(passes: Sequence[dict], queries: Sequence[str]) -> dict[str, float]:
    """Warm figures of a run from its measured passes.

    Each pass is a dict with ``wall_s``, ``cpu_s`` (process-tree CPU of
    the pass) and per-query ``latency_s`` and ``query_cpu_s``. Pass
    figures are medians over passes and query figures are medians over a
    query's samples, so one pass slowed by the host moves neither.
    """
    done = [p for p in passes if p["latency_s"]]
    if not done:
        raise ValueError("no measured pass completed a query")
    ran = [q for q in queries if any(q in p["latency_s"] for p in done)]

    def per_query(key: str) -> list[float]:
        return [median(p[key][q] for p in done if q in p[key]) for q in ran]

    lat = per_query("latency_s")
    return {
        "warm_qpm": median(60.0 * len(p["latency_s"]) / p["wall_s"] for p in done),
        "warm_geomean_s": geomean(lat),
        "warm_p90_s": percentile(lat, 0.9),
        "cpu_s_per_query": median(p["cpu_s"] / len(p["latency_s"]) for p in done),
        "warm_cpu_geomean_s": geomean(per_query("query_cpu_s")),
    }
