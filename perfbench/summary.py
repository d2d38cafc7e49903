"""Pure helpers of the benchmark: the closed loop, percentiles, failures.

Nothing here touches Spark, so the logic the metrics rest on is tested
without a session (``python3 -m pytest perfbench/tests``).
"""

from __future__ import annotations

import math
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence, Tuple

# candidate tail percentiles, lowest first; the reported tail is the
# highest one that still has MIN_BEYOND samples above it
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def rank_of(n: int, p: float) -> int:
    """1-based nearest-rank index of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(p / 100.0 * n))


def beyond(n: int, p: float) -> int:
    """Samples ranked strictly above the nearest-rank ``p`` percentile."""
    return n - rank_of(n, p)


def percentile(samples: Sequence[float], p: float) -> float:
    ordered = sorted(samples)
    return ordered[rank_of(len(ordered), p) - 1]


def tail(samples: Sequence[float]) -> Optional[Tuple[float, float, int]]:
    """(percentile, value, samples beyond it) for the highest ladder
    percentile with at least MIN_BEYOND samples above it, or None when even
    the median has fewer (fewer than 2 * MIN_BEYOND samples)."""
    n = len(samples)
    best = None
    for p in TAIL_LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            best = p
    if best is None:
        return None
    return best, percentile(samples, best), beyond(n, best)


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no job was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


@dataclass
class LoopResult:
    """Outcome of one closed loop: durations of the jobs that passed."""

    times: list = field(default_factory=list)
    rates: list = field(default_factory=list)  # input rows / s, per job
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    @property
    def rows_per_s(self) -> float:
        """Median over passed jobs of the job's input rows per second."""
        return statistics.median(self.rates)

    @property
    def p50(self) -> float:
        return statistics.median(self.times)


def closed_loop(
    job: Callable[[int], Tuple[int, bool]],
    seconds: float,
    clock: Callable[[], float] = time.perf_counter,
    min_jobs: int = 1,
) -> LoopResult:
    """One client, closed loop: job ``i + 1`` starts when job ``i`` ends.

    ``job(i)`` runs job ``i`` and returns (input rows completed, output
    matched the reference).  A job that raises or mismatches counts as
    failed; its rows and time are not credited.  The loop stops at the
    first job that ends ``seconds`` after the loop started once at least
    ``min_jobs`` (at least one) jobs ran.
    """
    res = LoopResult()
    start = clock()
    while True:
        t0 = clock()
        res.attempted += 1
        try:
            rows, ok = job(res.attempted - 1)
        except Exception as e:  # a failed job is a measured outcome
            rows, ok = 0, False
            res.errors.append(f"{type(e).__name__}: {e}")
        t1 = clock()
        if ok:
            res.times.append(t1 - t0)
            res.rates.append(rows / (t1 - t0))
        else:
            res.failed += 1
        if t1 - start >= seconds and res.attempted >= min_jobs:
            return res
