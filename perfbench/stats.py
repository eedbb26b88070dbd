"""Pure arithmetic for the benchmark: percentiles and span accounting.

A span is a ``(start, end)`` interval in epoch seconds; a build's stage
spans are a dict keyed by stage name. Nothing in this module touches Spark,
so the self-tests run without a JVM.
"""

from __future__ import annotations

# Stage dependencies of plans/pipeline.run_pipeline: a stage's build reads
# the materialized outputs of the stages listed for it.
STAGE_DEPS: dict[str, tuple[str, ...]] = {
    "cells": (),
    "mentions": (),
    "postings": ("cells",),
    "attributes": ("cells",),
    "pred_merge_map": ("cells",),
    "clusters": ("cells",),
    "join_results": ("mentions", "cells"),
    "resolved": ("pred_merge_map", "cells"),
    "pred_dtypes": ("pred_merge_map", "cells"),
    "triples": ("resolved", "clusters", "pred_dtypes"),
}


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it: ``(percentile, value, n)``, or ``None`` when there are too few
    samples (``n <= beyond``). Sorted ascending, the sample at 1-based rank
    ``k`` has ``n - k`` samples above it, so the rank is ``n - beyond``."""
    n = len(values)
    if n <= beyond:
        return None
    k = n - beyond
    return 100.0 * k / n, sorted(values)[k - 1], n


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that child spans cover."""
    return (end - start) - union_length(children, start, end)


def critical_path(spans: dict[str, tuple[float, float]], deps=STAGE_DEPS) -> list[str]:
    """Stages on the blocking chain that ends at the last-finishing stage.

    Walks back from that stage, each time to the dependency that finished
    last (the one the stage actually waited for). Stages missing from
    ``spans`` are skipped."""
    if not spans:
        return []
    cur = max(spans, key=lambda s: spans[s][1])
    path = [cur]
    while True:
        waited = [d for d in deps.get(cur, ()) if d in spans]
        if not waited:
            return path[::-1]
        cur = max(waited, key=lambda s: spans[s][1])
        path.append(cur)


def build_accounting(
    start: float, end: float, spans: dict[str, tuple[float, float]]
) -> dict[str, float]:
    """Per-build span accounting: wall, time covered by some open stage
    span, driver gap (covered by none — the build span's self time), Σ span /
    wall, and the critical path's summed span time."""
    wall = end - start
    ivs = list(spans.values())
    covered = union_length(ivs, start, end)
    path = critical_path(spans)
    return {
        "wall_s": wall,
        "covered_s": covered,
        "driver_gap_s": self_time(start, end, ivs),
        "stage_overlap": sum(b - a for a, b in ivs) / wall if wall > 0 else 0.0,
        "critical_path_s": sum(spans[s][1] - spans[s][0] for s in path),
    }
