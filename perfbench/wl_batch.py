"""``batch_replay``: the two closed-loop replays in one run.

One operation is one ``fraud_backfill`` pass (the E1 job over 100 K
seeded transactions into an empty store) followed by one
``curate_stream`` trigger (one ~100-document batch through the standing
curation runner). Both are set up, warmed and checked exactly as in
their own workloads; this one runs them in a single Spark session so
that one gated run covers the window, store and curation layers.

Why: the benchmark's time budget (4 + 22 x workloads runs in 3420 s)
does not carry three workloads of 40-80 s each, and a fresh session
costs about 7 s of every run. About a third of a round's CPU time is
the backfill pass and two thirds the curation trigger; the report gives
each part's median CPU time beside the round's.
"""

from __future__ import annotations

import time

from .common import Workload
from .stats import median
from .wl_backfill import FraudBackfill
from .wl_curate import CurateStream


class BatchReplay(Workload):
    name = "batch_replay"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.backfill = FraudBackfill(ctx)
        self.curate = CurateStream(ctx)

    def prepare(self) -> None:
        self.backfill.prepare()
        self.curate.prepare()

    def warmup(self) -> None:
        # the curation trigger leaves the JIT compiler the longer backlog;
        # it works that off during the backfill passes, not the timed round
        self.curate.warmup()
        self.backfill.warmup()

    def run(self) -> dict:
        bf, cu = self.backfill, self.curate
        bf.start()
        cu.start()
        t0 = time.time()
        self.op_windows = []
        # a corpus used up before the run time ends the run early
        while time.time() - t0 < self.ctx.seconds and cu.has_batches():
            s = time.time()
            bf.step()
            cu.step()
            self.op_windows.append((s, time.time()))
        out = {**bf.finish(), **cu.finish()}
        bf.window = cu.window = (t0, time.time())
        self.part_windows = {"backfill_pass": bf.op_windows, "curate_trigger": cu.op_windows}
        rounds = [e - s for s, e in self.op_windows]
        self.samples = {**bf.samples, **cu.samples, "round_s": rounds}
        del out["items"]  # rows and documents do not add up
        out["latency_p50_s"] = (median(rounds), "s")
        return out

    def check(self) -> None:
        self.backfill.check()
        self.curate.check()

    def close(self) -> None:
        self.curate.close()

    def layers(self, spans, attributed: dict, progress: list) -> dict:
        return {**self.backfill.layers(spans, attributed, progress),
                **self.curate.layers(spans, attributed, progress)}
