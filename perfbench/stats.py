"""Summary statistics for latency samples."""

from __future__ import annotations

import math
import statistics
import time


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summary(values: list[float]) -> dict:
    """p50 and sample count. No tail percentile is reported: a run's windows
    hold far fewer than the 21 samples a tail with at least ten samples
    beyond it would need."""
    return {"p50": median(values) if values else None, "samples": len(values)}


def another_fits(deadline: float, last_op_s: float) -> bool:
    """Timed windows run operations back to back and start one more only if
    it is expected (from the last one's duration) to end by ``deadline``
    (perf_counter seconds). The first operation always runs."""
    return time.perf_counter() + last_op_s <= deadline


class Ops:
    """Attempted and failed operation counts (batches, reads, queries, checks)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(what[:500])
