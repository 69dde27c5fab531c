"""Pure arithmetic behind the benchmark's reported numbers.

Nothing here imports Spark, so ``perfbench/tests`` checks it without a
session. Every function takes plain Python numbers.
"""

from __future__ import annotations

import statistics

# Tail percentiles a timing may report beyond its median, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 90.0)
# A percentile is reported only when at least this many samples lie
# beyond it; fewer and the figure is one or two outliers, not a tail.
MIN_SAMPLES_BEYOND = 10


def _rank(n: int, q: float) -> int:
    """Nearest-rank position (1-based) of the ``q``-th percentile of ``n``
    samples: ceil(n*q/100), in integer tenths of a percent so 99.9 does
    not round up through float error."""
    tenths = round(q * 10)
    return -(-n * tenths // 1000)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th
    percentile (nearest-rank)."""
    return n - _rank(n, q)


def timing_summary(values: list[float]) -> dict:
    """Median, sample count, and the highest tail percentile that has at
    least MIN_SAMPLES_BEYOND samples beyond it (none when too few)."""
    if not values:
        raise ValueError("no samples to summarize")
    out = {"n": len(values), "p50": statistics.median(values)}
    ordered = sorted(values)
    for q in TAIL_PERCENTILES:
        if samples_beyond(len(values), q) >= MIN_SAMPLES_BEYOND:
            out[f"p{q:g}"] = ordered[_rank(len(values), q) - 1]
            break
    return out


def split_warmup(walls: list[float], warmup: int, min_timed: int) -> tuple[list, list]:
    """(warm-up walls, timed walls). Refuses with ValueError when fewer
    than ``min_timed`` walls remain after the warm-up, instead of letting
    a later mean divide by zero."""
    if warmup < 0 or min_timed < 1:
        raise ValueError("warmup must be >= 0 and min_timed >= 1")
    timed = walls[warmup:]
    if len(timed) < min_timed:
        raise ValueError(
            f"{len(walls)} batches leave {len(timed)} after {warmup} warm-up "
            f"batches; need at least {min_timed}"
        )
    return walls[:warmup], timed


def flatness_windows(timed: list[float]) -> tuple[list, list]:
    """Disjoint early and late windows over the timed walls: the first
    and last ``len // 2`` samples (the middle one is dropped when the
    count is odd), so no batch is counted on both sides."""
    k = len(timed) // 2
    if k < 1:
        raise ValueError(f"flatness needs at least 2 timed batches, got {len(timed)}")
    return timed[:k], timed[-k:]


def flatness(timed: list[float]) -> float:
    """Mean late wall over mean early wall: ~1.0 when per-batch cost
    does not grow with accumulated state."""
    early, late = flatness_windows(timed)
    base = statistics.fmean(early)
    if base <= 0:
        raise ValueError("early window has no positive wall")
    return statistics.fmean(late) / base


def reconcile(untraced_wall: float, stage_walls: list[float], tolerance: float) -> dict:
    """Compare the untraced end-to-end wall with the sum of the traced
    stage walls. ``unattributed_s`` is the untraced wall the stages do
    not account for (negative when they over-account); ``ok`` holds when
    its magnitude is within ``tolerance`` as a share of the wall."""
    if untraced_wall <= 0:
        raise ValueError("untraced wall must be positive")
    unattributed = untraced_wall - sum(stage_walls)
    return {
        "unattributed_s": unattributed,
        "share": unattributed / untraced_wall,
        "ok": abs(unattributed) <= tolerance * untraced_wall,
    }


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict:
    """Span id -> self time: its duration minus the part of its interval
    covered by its direct children (children clipped to the parent, and
    overlapping children counted once)."""
    children: dict = {}
    for sp in spans:
        if sp.get("parent") is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        kids = [
            (max(c["start"], s), min(c["end"], e))
            for c in children.get(sp["id"], [])
            if c["end"] > s and c["start"] < e
        ]
        out[sp["id"]] = (e - s) - _covered(kids)
    return out
