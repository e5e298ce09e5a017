"""Benchmark-side spans around calls into the package's layers.

Nothing inside the package is instrumented: a span opens in the
benchmark's own code right before it calls a layer's public function and
closes when the call returns. Spans stay in memory and are written out
once, when the run ends.

Each span records its name (the layer it calls, e.g.
``featurestore.upsert``), start and end (epoch seconds, the clock Spark
stamps its event log with), its parent span on the same thread, and a
``key`` that ties spans of one unit of work together (a pass number, a
stream file, a trigger id).

In a traced run every span opened on a *registered* benchmark thread
also sets that thread's Spark job group to ``pb|<span id>``, so the
event-log reader can attribute the jobs the call launched. Spans opened
on threads Spark owns (a ``foreachBatch`` callback) leave the group
alone: those jobs carry the streaming query's run id, and the reader
attributes them by time window instead.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

GROUP_PREFIX = "pb|"


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        #: names of the registered benchmark threads
        self.bench_threads: set[str] = set()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def register_thread(self) -> None:
        """Mark the calling thread as a benchmark thread whose spans may
        set the Spark job group."""
        self._local.registered = True
        self.bench_threads.add(threading.current_thread().name)

    @contextlib.contextmanager
    def span(self, name: str, key=None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": stack[-1]["id"] if stack else None,
            "name": name,
            "key": key,
            "thread": threading.current_thread().name,
            "start": time.time(),
            "end": None,
            "group": None,
        }
        rec.update(attrs)
        sc = None
        prev_group = None
        if self.spark is not None and getattr(self._local, "registered", False):
            sc = self.spark.sparkContext
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            rec["group"] = f"{GROUP_PREFIX}{sid}"
            sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (``(start, end)`` pairs),
    each clipped to ``[lo, hi]`` when given; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval that its direct children cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
