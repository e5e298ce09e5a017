"""Summary statistics shared by every workload.

Percentiles use the nearest-rank rule: the p-th percentile of ``n``
sorted samples is the value at rank ``ceil(p/100 * n)`` (1-based). It
always returns a measured sample, never an interpolation, so a count or
a time reads as something that happened.

The tail is the highest percentile that still has at least
``TAIL_BEYOND`` samples above it. With ``n`` samples that is rank
``n - TAIL_BEYOND``; fewer than ``TAIL_BEYOND + 1`` samples support no
tail at all.
"""

from __future__ import annotations

import math

TAIL_BEYOND = 10


def nearest_rank(values, pct: float) -> float:
    """Nearest-rank ``pct``-th percentile (0 < pct <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 < pct <= 100:
        raise ValueError(f"percentile must be in (0, 100], got {pct}")
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values) -> float:
    """Nearest-rank median (the lower middle value for even ``n``)."""
    return nearest_rank(values, 50)


def tail(values) -> dict | None:
    """The tail sample and the percentile it stands for, or ``None``
    when fewer than ``TAIL_BEYOND + 1`` samples exist.

    Returns ``{"value", "pct", "n"}``; ``pct`` is ``rank / n * 100``,
    the highest percentile whose nearest rank is that sample.
    """
    xs = sorted(values)
    n = len(xs)
    rank = n - TAIL_BEYOND
    if rank < 1:
        return None
    return {"value": xs[rank - 1], "pct": 100.0 * rank / n, "n": n}


class Outcomes:
    """Attempted and failed operations of one run.

    An operation is whatever the workload counts as one unit of work
    (a backfill pass, a stream file, a trigger) plus every output check.
    ``failed_ratio`` is failed over attempted; a run that attempted
    nothing is itself a failure.
    """

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, reason: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        self.reasons.append(reason)

    def check(self, cond: bool, reason: str) -> bool:
        """Count one check; record ``reason`` when it does not hold."""
        if cond:
            self.ok()
        else:
            self.fail(reason)
        return cond

    @property
    def failed_ratio(self) -> float:
        if self.attempted == 0:
            return 1.0
        return self.failed / self.attempted


def since_due(items, attr: str) -> list[float]:
    """Open-loop latencies: ``getattr(item, attr) - item.due`` for every
    item that reached ``attr``.

    Time runs from when the work was *due*, not from when it was sent, so
    a generator that fell behind, or a stall that delayed later sends,
    adds to every latency it caused.
    """
    out = []
    for it in items:
        t = getattr(it, attr)
        if t is not None:
            out.append(t - it.due)
    return out
