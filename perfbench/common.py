"""What every workload receives, and the shape of what it returns."""

from __future__ import annotations

import dataclasses
import datetime
import os
import sys

from .spans import Tracer
from .stats import Outcomes


@dataclasses.dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float  # the measured run length
    work: str  # this run's scratch directory inside the checkout
    outcomes: Outcomes

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# Rows in one relation and not the other, both ways, duplicates counted
# (DuckDB SQL; ``a`` and ``b`` are relations).
DIFF_SQL = """
SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}))
     + (SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))
"""


def epoch(iso: str) -> float:
    """Seconds since the epoch of a streaming progress ``timestamp``."""
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def merge_progress(query, into: dict[int, dict]) -> dict[int, dict]:
    """Merge ``query.recentProgress`` into ``into`` by batch id.

    ``recentProgress`` keeps only the last 100 updates, so callers read
    it often and keep what they have seen here. An idle update can carry
    the id of a batch that has not run yet; the update with input wins."""
    for p in query.recentProgress:
        if p is None:
            continue
        old = into.get(int(p["batchId"]))
        if old is None or int(old["numInputRows"]) < int(p["numInputRows"]):
            into[int(p["batchId"])] = dict(p)
    return into


def log(msg: str) -> None:
    """Progress notes go to stderr; stdout carries the report."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Workload:
    """One benchmark workload.

    ``prepare`` builds the inputs, models and stores. ``warmup`` pays
    first-use costs. Both count toward ``setup_s``. ``run`` measures for
    ``ctx.seconds`` and returns its named end-to-end metrics as
    ``name: (value, unit[, tail])``, including ``latency_p50_s`` and,
    where they add up, ``items`` (the rows, events or documents that
    ``cpu_ms_per_item`` divides by). It sets ``op_windows``: the start
    and end (epoch seconds) of every operation it measured, a backfill
    pass, a trigger or a round of both; ``cpu_s_per_op`` is the median
    CPU time of those. A workload made of parts also sets
    ``part_windows``, each part's operations by name.
    ``check`` verifies outputs outside the timed
    region, counting each check in ``ctx.outcomes``. ``layers`` turns a
    traced run's spans and jobs into per-layer metrics.
    """

    name = ""
    op_windows: list[tuple[float, float]] = []

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def run(self) -> dict:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def close(self) -> None:
        """Stop anything ``run`` left running (streaming queries)."""

    def layers(self, spans, attributed: dict, progress: list) -> dict:
        raise NotImplementedError
