"""``fraud_backfill``: the E1 batch job, closed loop, one client.

Input is the reference's shape (10 K cards over a five-month span, fraud
chains injected), generated from the seed by ``gen_transactions`` and
``inject_fraud_chains`` and written to parquet. One operation is one
backfill pass into an empty store::

    agg_features_query(keep_cent_sums=True)   -> persisted, counted
    batch_feature_records(agg)                -> persisted, counted
    FeatureGroup.upsert(records)              -> every card, 16 buckets

The two counts are the layer boundaries (the window job and the
latest-per-key job run on their own), the same persist-then-reuse shape
``run_batch_ingest`` has. Passes run back to back until the run time is
used; a pass that starts before the deadline finishes.

Why: a few large CPU- and shuffle-bound jobs with a small driver gap.
Window, codegen and shuffle work shows here; per-trigger action folding
cannot.
"""

from __future__ import annotations

import shutil
import time

import duckdb

from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators import (
    agg_features_query,
)
from amazon_sagemaker_feature_store_streaming_aggregation_spark.plans import (
    batch_feature_records,
)
from amazon_sagemaker_feature_store_streaming_aggregation_spark.sources.generator import (
    gen_transactions,
    inject_fraud_chains,
)

from . import layers
from .common import DIFF_SQL, Workload
from .fstore import TracedFeatureGroup
from .stats import median, tail

N_ROWS = 100_000
N_CARDS = 10_000
SPAN = ("2020-01-01", "2020-06-01")
# the generator's random streams are per partition: a fixed count keeps
# the inputs a function of the seed alone, whatever the host's core count
GEN_PARTITIONS = 4
# the first pass pays the cold start and the second still runs much code
# the JIT compiler has not reached; from the third on, a pass's CPU time
# less the compiler's stays within about 5 % of the next one's
WARMUP_PASSES = 2


class FraudBackfill(Workload):
    name = "fraud_backfill"

    def prepare(self) -> None:
        ctx = self.ctx
        self.tx_dir = ctx.path("tx")
        with ctx.tracer.span("sources.generator"):
            inject_fraud_chains(
                gen_transactions(
                    ctx.spark, n=N_ROWS, n_cards=N_CARDS, start=SPAN[0],
                    end=SPAN[1], seed=ctx.seed,
                    partitions=GEN_PARTITIONS,
                ),
                seed=ctx.seed,
            ).write.parquet(self.tx_dir)
        self.tx = ctx.spark.read.parquet(self.tx_dir)
        self.n_rows = self.tx.count()
        self.passes = 0

    def _pass(self) -> tuple[int, int]:
        """One backfill into a fresh, empty store; returns the aggregate
        and record row counts."""
        ctx = self.ctx
        self.passes += 1
        fg = TracedFeatureGroup(
            ctx.tracer, ctx.spark, "cc-agg-1w", "cc_num", "trans_time",
            ctx.path(f"store{self.passes}"),
        )
        with ctx.tracer.span("plans.backfill_pass", key=self.passes):
            with ctx.tracer.span("operators.window_agg", key=self.passes):
                agg = agg_features_query(self.tx, keep_cent_sums=True).persist()
                n_agg = agg.count()
            with ctx.tracer.span("plans.batch_ingest", key=self.passes):
                records = batch_feature_records(agg).persist()
                n_rec = records.count()
            fg.upsert(records)
        records.unpersist()
        agg.unpersist()
        if self.passes > 1:
            shutil.rmtree(ctx.path(f"store{self.passes - 1}"), ignore_errors=True)
        self.store = fg
        return n_agg, n_rec

    def warmup(self) -> None:
        for _ in range(WARMUP_PASSES):
            self._pass()

    def run(self) -> dict:
        self.start()
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.ctx.seconds:
            self.step()
        return self.finish()

    def start(self) -> None:
        self.lat: list[float] = []
        self.counts: list[tuple[int, int]] = []
        self.op_windows = []
        self.window = (time.time(), None)

    def step(self) -> None:
        """One timed pass."""
        s, w = time.perf_counter(), time.time()
        self.counts.append(self._pass())
        self.lat.append(time.perf_counter() - s)
        self.op_windows.append((w, time.time()))
        self.ctx.outcomes.ok()

    def finish(self) -> dict:
        lat = self.lat
        self.window = (self.window[0], time.time())
        self.samples = {"pass_s": lat}
        t = tail(lat)
        return {
            "backfill_rows_per_s": (self.n_rows * len(lat) / sum(lat), "rows/s"),
            "backfill_pass_p50_s": (median(lat), "s"),
            "backfill_pass_tail_s": (t and t["value"], "s", t),
            "backfill_passes": (len(lat), "count"),
            "items": (self.n_rows * len(lat), "rows"),
            "latency_p50_s": (median(lat), "s"),
        }

    def check(self) -> None:
        ctx = self.ctx
        oc = ctx.outcomes
        for n_agg, _ in self.counts:
            oc.check(n_agg == self.n_rows, f"aggregate rows {n_agg} != input rows {self.n_rows}")
        # the aggregate is deterministic: recompute it once and compare every
        # row with an independent DuckDB spelling of the windows
        agg_dir = ctx.path("check_agg")
        agg_features_query(self.tx, keep_cent_sums=True).select(
            "tid", "cc_num", "num_trans_last_10m", "avg_amt_last_10m",
            "num_trans_last_1w", "avg_amt_last_1w", "amt_ratio1", "amt_ratio2",
            "count_ratio",
        ).write.parquet(agg_dir)
        store = self.store.get_latest().select(
            "cc_num", "num_trans_last_1w", "avg_amt_last_1w").toPandas()
        con = duckdb.connect()
        try:
            con.execute(_E1_SQL.format(tx=f"{self.tx_dir}/*.parquet"))
            diff = con.execute(DIFF_SQL.format(
                a=f"read_parquet('{agg_dir}/*.parquet')", b="expected")).fetchone()[0]
            oc.check(diff == 0, f"{diff} aggregate rows differ from the DuckDB windows")
            con.register("store", store)
            n_cards = con.execute("SELECT count(DISTINCT cc_num) FROM tx").fetchone()[0]
            oc.check(len(store) == n_cards and store["cc_num"].nunique() == n_cards,
                     f"store holds {len(store)} records for {n_cards} cards")
            diff = con.execute(DIFF_SQL.format(a="store", b="expected_records")).fetchone()[0]
            oc.check(diff == 0, f"{diff} store records differ from the DuckDB latest rows")
        finally:
            con.close()

    def layers(self, spans, attributed: dict, progress: list) -> dict:
        lo, hi = self.window
        per = layers.by_layer(spans, attributed, lo, hi)
        gen = [s["end"] - s["start"] for s in spans if s["name"] == "sources.generator"]
        out = {"sources.generator.s": (median(gen), "s")}
        for name in ("operators.window_agg", "plans.batch_ingest"):
            row = per[name]
            out[f"{name}.s"] = (row["total_s"], "s")
            out[f"{name}.jobs"] = (row["jobs_per_call"], "count")
        for k in ("shuffle_write_bytes", "spill_bytes"):
            row = per["operators.window_agg"]
            out[f"operators.window_agg.{k}"] = (row[k] / row["calls"], "B")
        up = per["featurestore.upsert"]
        buckets = [s.get("buckets", 0) for s in spans
                   if s["name"] == "featurestore.upsert" and lo <= s["start"] <= hi]
        out.update({
            "featurestore.upsert.calls": (up["calls"], "count"),
            "featurestore.upsert.p50_s": (up["p50_s"], "s"),
            "featurestore.upsert.total_s": (up["total_s"], "s"),
            "featurestore.upsert.jobs_per_call": (up["jobs_per_call"], "count"),
            "featurestore.upsert.buckets_per_call": (sum(buckets) / len(buckets), "count"),
            "plans.backfill_pass.self_s": (per["plans.backfill_pass"]["self_s"], "s"),
        })
        out.update(layers.spark_totals(attributed, lo, hi))
        return out


# Independent DuckDB spelling of the E1 windows: integer cents, RANGE
# frames on epoch microseconds, averages as (sum / 100) / count, and the
# store record as the integer half-up rounded 1-week average of the
# card's latest row.
_E1_SQL = """
CREATE TABLE tx AS SELECT * FROM read_parquet('{tx}');
CREATE TABLE win AS
SELECT tid, cc_num, epoch_us(datetime) AS us, amount,
       count(*) OVER w1 AS n10, CAST(sum(c) OVER w1 AS BIGINT) AS s10,
       count(*) OVER w2 AS n1w, CAST(sum(c) OVER w2 AS BIGINT) AS s1w
FROM (SELECT *, CAST(round(amount * 100) AS BIGINT) AS c FROM tx)
WINDOW w1 AS (PARTITION BY cc_num ORDER BY epoch_us(datetime)
              RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW),
       w2 AS (PARTITION BY cc_num ORDER BY epoch_us(datetime)
              RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW);
CREATE VIEW avgs AS
SELECT *, CAST(s10 AS DOUBLE) / CAST(100 AS DOUBLE) / CAST(n10 AS DOUBLE) AS a10,
       CAST(s1w AS DOUBLE) / CAST(100 AS DOUBLE) / CAST(n1w AS DOUBLE) AS a1w
FROM win;
CREATE VIEW expected AS
SELECT tid, cc_num, n10, a10, n1w, a1w, a10 / a1w, amount / a1w,
       CAST(n10 AS DOUBLE) / CAST(n1w AS DOUBLE)
FROM avgs;
CREATE VIEW expected_records AS
SELECT DISTINCT w.cc_num, w.n1w,
       CAST((2 * w.s1w + w.n1w) // (2 * w.n1w) AS DOUBLE) / CAST(100 AS DOUBLE)
FROM win w
JOIN (SELECT cc_num, max(us) AS us FROM win GROUP BY cc_num) m
  ON w.cc_num = m.cc_num AND w.us = m.us;
"""
