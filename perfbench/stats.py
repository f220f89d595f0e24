"""Summaries with sample counts, and the correctness-check ledger."""

from __future__ import annotations

import math
import statistics
from typing import Optional, Sequence

# tail percentiles tried, highest first; one is reported only when at
# least this many samples lie beyond it
TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10


def median(xs: Sequence[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return float(s[rank - 1])


def tail(xs: Sequence[float]) -> Optional[dict]:
    """The highest tail percentile with at least ``MIN_BEYOND`` samples
    beyond it, or None when there are too few samples for any."""
    for p in TAIL_PERCENTILES:
        beyond = len(xs) - math.ceil(p / 100.0 * len(xs))
        if beyond >= MIN_BEYOND:
            return {"p": p, "value": percentile(xs, p), "beyond": beyond}
    return None


def summary(xs: Sequence[float]) -> dict:
    """Median, qualifying tail percentile and sample count of ``xs``."""
    return {"p50": median(xs), "tail": tail(xs), "n": len(xs)}


class Checks:
    """Ledger of correctness checks: every check counts as attempted, and a
    check that does not hold counts as failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{name}: {detail}" if detail else name)
        return ok

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
