"""Pure helpers for the benchmark's numbers: percentiles, open-loop
lateness, span self time and operation counting. No Spark import, so
the tests in ``perfbench/tests`` run in a plain interpreter."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(xs: list[float], candidates=TAIL_CANDIDATES) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    ``(p, value)``; None when even the lowest candidate has fewer."""
    for p in candidates:
        if beyond(len(xs), p) >= MIN_BEYOND:
            return p, percentile(xs, p)
    return None


def summary(xs: list[float]) -> dict:
    """Median, rule-chosen tail percentile and sample count."""
    out: dict = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = statistics.median(xs)
    t = tail(xs)
    if t is not None:
        out["tail_p"], out["tail"] = t
    return out


def median_or(xs: list[float], default: float = 0.0) -> float:
    return statistics.median(xs) if xs else default


def lateness(t0: float, tick_s: float, starts: list[float]) -> list[float]:
    """Open-loop lateness: tick k was due at ``t0 + k * tick_s``; its
    lateness is how far after that it actually started (never negative)."""
    return [max(0.0, s - (t0 + k * tick_s)) for k, s in enumerate(starts)]


def ticks_due(seconds: float, tick_s: float) -> int:
    """How many ticks of a fixed-rate schedule fall due in a window of
    ``seconds`` that opens on a due time: every k >= 0 with
    ``k * tick_s < seconds``."""
    n = 0
    while n * tick_s < seconds:
        n += 1
    return n


def freshness(
    due: list[float], cumulative: list[int], samples: list[tuple[float, int]]
) -> list[float | None]:
    """Per tick, the time from its due time to the first visibility
    sample whose total covers the tick's cumulative row count, or None
    when no sample covers it. ``samples`` are ``(time, visible_total)``
    in time order."""
    return [
        next((t - t_due for t, total in samples if total >= cum and t >= t_due), None)
        for t_due, cum in zip(due, cumulative)
    ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: its duration minus the part of its interval that
    its child spans cover (children clipped to the parent, overlaps
    counted once)."""
    by_parent: dict[int, list[dict]] = {}
    for sp in spans:
        if sp.get("parent") is not None:
            by_parent.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        kids = [
            (max(c["start"], sp["start"]), min(c["end"], sp["end"]))
            for c in by_parent.get(sp["id"], [])
        ]
        covered = _union_length([(s, e) for s, e in kids if e > s])
        out[sp["id"]] = (sp["end"] - sp["start"]) - covered
    return out


@dataclass
class Ops:
    """Attempted and failed operation counts. A failure is ``wrong`` when
    the operation completed with an incorrect output; an operation that
    raised or was never sent fails without being wrong."""

    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, ok: bool, why: str = "", wrong: bool = True) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.wrong += int(wrong)
            if len(self.reasons) < 20:
                self.reasons.append(why)
        return ok

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
