"""Closed-loop op runner and the latency summary rules.

One client: each op starts only after the previous one returned and its
output was checked.  An op fails when it raises or when its check fails;
failures count in ``error_rate`` and their latency still counts.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9, 99.99)
TAIL_MIN_BEYOND = 10


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the ceil(p/100 * n)-th smallest sample."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(xs: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, samples beyond it) for the highest percentile in
    TAIL_PERCENTILES with at least TAIL_MIN_BEYOND samples above its rank,
    or None when a run has too few samples for any."""
    n = len(xs)
    best = None
    for p in TAIL_PERCENTILES:
        beyond = n - max(1, math.ceil(p / 100.0 * n))
        if beyond >= TAIL_MIN_BEYOND:
            best = (p, percentile(xs, p), beyond)
    return best


@dataclass
class LoopResult:
    latencies: list[float] = field(default_factory=list)
    items: int = 0  # items completed by ops that passed their check
    failed: int = 0

    @property
    def attempted(self) -> int:
        return len(self.latencies)

    @property
    def busy_s(self) -> float:
        return sum(self.latencies)

    def summary(self) -> dict:
        out = {
            "attempted": self.attempted,
            "failed": self.failed,
            "error_rate": self.failed / self.attempted if self.attempted else 1.0,
            "latency_p50_s": statistics.median(self.latencies),
            "items_per_s": self.items / self.busy_s if self.busy_s > 0 else 0.0,
        }
        t = tail(self.latencies)
        if t is not None:
            out["latency_tail"] = {"percentile": t[0], "value_s": t[1], "beyond": t[2]}
        return out


def closed_loop(
    op: Callable[[int], object],
    check: Callable[[int, object], int],
    seconds: float,
    min_ops: int = 1,
    max_ops: int | None = None,
    prepare: Callable[[int], None] | None = None,
    group: int = 1,
) -> LoopResult:
    """Run ``op(i)`` back to back until ``seconds`` of op time are spent.

    ``check(i, out)`` validates op i's output outside the timed region and
    returns the items it completed; it raises to fail the op.  The loop
    stops before an op that would likely overrun the budget (elapsed +
    median latency so far), after at least ``min_ops`` and at most
    ``max_ops`` ops, and only after a whole ``group`` of ops.
    ``prepare(i)``, if given, runs untimed before op i."""
    res = LoopResult()
    i = 0
    while max_ops is None or i < max_ops:
        overrun = i and res.busy_s + statistics.median(res.latencies) > seconds
        if i >= min_ops and i % group == 0 and overrun:
            break
        if prepare is not None:
            prepare(i)
        t0 = time.perf_counter()
        try:
            out = op(i)
        except Exception:
            res.latencies.append(time.perf_counter() - t0)
            res.failed += 1
            traceback.print_exc(file=sys.stderr)
            i += 1
            continue
        res.latencies.append(time.perf_counter() - t0)
        try:
            res.items += check(i, out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res.failed += 1
        i += 1
    return res
