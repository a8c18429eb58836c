"""Pure helpers: percentiles, tail selection and open-loop lag accounting.

No Spark here, so the self-tests exercise these without a session.
"""

from __future__ import annotations

import math
import statistics

#: a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float] | None:
    """The highest percentile with at least `min_beyond` samples above it.

    Returns (percentile, value), or None when the sample cannot support a
    tail above its median. With n sorted samples, the value with exactly
    `min_beyond` samples beyond it is sorted[n - min_beyond - 1], and its
    percentile is 100 * (n - min_beyond) / n.
    """
    n = len(values)
    if n - min_beyond < math.ceil(n / 2):
        return None
    pct = 100.0 * (n - min_beyond) / n
    return pct, float(sorted(values)[n - min_beyond - 1])


def segment_lags(
    releases: dict[str, float],
    batch_files: dict[int, list[str]],
    batch_ends: dict[int, float],
) -> dict[str, float]:
    """Open-loop lag per segment: commit time of the batch that made it
    visible minus the segment's SCHEDULED release time.

    Timing from the schedule (not from when the engine picked the segment
    up) charges a stalled epoch to every segment released behind it: their
    batch cannot start until the stall ends. Segments whose batch never
    committed are absent from the result.
    """
    out: dict[str, float] = {}
    for b, files in batch_files.items():
        if b not in batch_ends:
            continue
        for f in files:
            if f in releases:
                out[f] = batch_ends[b] - releases[f]
    return out


def queue_waits(
    releases: dict[str, float],
    batch_files: dict[int, list[str]],
    batch_starts: dict[int, float],
) -> list[float]:
    """Per segment: start of the batch that drained it minus its release."""
    return [
        batch_starts[b] - releases[f]
        for b, files in batch_files.items()
        if b in batch_starts
        for f in files
        if f in releases
    ]


def lag_trend(lags_in_release_order: list[float]) -> float | None:
    """Median lag of the last quarter of segments over the first quarter
    (at least one segment each).

    Near 1 means the backlog stayed flat at the offered rate; a growing
    backlog reads well above 1. None when fewer than 2 segments."""
    if len(lags_in_release_order) < 2:
        return None
    q = max(1, len(lags_in_release_order) // 4)
    first = median(lags_in_release_order[:q])
    last = median(lags_in_release_order[-q:])
    return last / first if first > 0 else None
