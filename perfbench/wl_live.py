"""``fraud_live``: the paper's live path, open loop.

Set-up builds what the live path reads: a 1-week store prefilled with
one record for each of the 10 K cards by one bulk ``FeatureGroup.upsert``
into an empty store (the reference fills it with the nightly E1 job,
which ``fraud_backfill`` measures), and a ``train_fraud_model`` fit on a
small seeded training set.

Then a generator thread writes one JSON-lines file every
``FILE_INTERVAL_S`` seconds on a fixed schedule that does not slow when
the system does. Each file holds ``RATE * FILE_INTERVAL_S`` events on
Zipf-skewed cards, with amounts drawn from ``gen_transactions``' own
amount mixture, plus a burst of 3-10 events on a fresh *sentinel* card,
so the generator knows that card's exact expected 10-minute aggregate.
Every event is stamped with its file's due time.

The stream under test is the reference loop::

    read_json_event_stream -> sliding_agg_exact -> start_stream_upsert
                                                   (10-minute store)

A prober thread watches the query checkpoint's commit log (file system
only). For each committed trigger it reads the trigger's file list from
the source log and makes one ``get_record`` on the newest file's
sentinel; the trigger's files are *fresh* once it reads back. A scorer
thread wakes on fresh files and scores all of them in one call:
``enrich_transactions`` over the files' events against both stores'
``get_latest()``, then ``score``. A file is *decided* when that call
returns and its sentinel's rows carry the sentinel's own aggregate.

Every trigger thus brings one point read and one scoring call, and the
triggers run back to back: a trigger's fixed cost (about 2-3 s on a
4-core host) is longer than the file interval, so each trigger takes
the files that arrived while the previous one ran. The gated CPU figure
is therefore CPU time per trigger, which falls when per-trigger cost
falls; CPU time per event would not, because back-to-back triggers keep
the cores busy whatever each costs.

Latencies run from a file's due time, not from when it was written, so a
late generator or a stalled loop shows in them.

Why: many small triggers, store writes beside point reads. Per-trigger
fixed cost and store work show here; the batch window kernels do not
run.
"""

from __future__ import annotations

import datetime
import json
import os
import threading
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from amazon_sagemaker_feature_store_streaming_aggregation_spark import local_rows
from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators.window_agg import (
    trailing_window_features_exact,
)
from amazon_sagemaker_feature_store_streaming_aggregation_spark.plans import (
    enrich_transactions,
    score,
    train_fraud_model,
)
from amazon_sagemaker_feature_store_streaming_aggregation_spark.sources.generator import (
    gen_cards,
    gen_transactions,
)
from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
    read_json_event_stream,
    sliding_agg_exact,
    start_stream_upsert,
)
from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming.sources import (
    STREAM_EVENT_SCHEMA,
)

from . import layers
from .common import Workload, epoch, merge_progress
from .fstore import TracedFeatureGroup
from .stats import median, nearest_rank, since_due, tail

N_CARDS = 10_000
TRAIN_ROWS = 200
RATE = 50  # background events per second
FILE_INTERVAL_S = 0.5
WARMUP_FILES = 4  # untimed files between the cold first file and the measured ones
# Zipf exponent of the card draw: the busiest card takes 15 % of the
# events, the busiest 100 take 65 %. A trigger takes 100-150 background
# events; at this skew they fall on about 40 % fewer distinct cards than
# a uniform draw gives (60 against 99 at 100 events), and both touch all
# 16 store buckets (the traced run reports both figures per trigger).
ZIPF_S = 1.1
AMOUNT_POOL = 8192  # background amounts, drawn once from gen_transactions
SENTINEL_BASE = 4_900_000_000_000_000
VISIBLE_TIMEOUT_S = 30.0
POLL_S = 0.02

TX_SCHEMA = "cc_num long, amount double, trans_ts double"


class _File:
    __slots__ = ("idx", "name", "due", "written", "events", "card", "n", "avg",
                 "visible", "decided", "ok_decision")

    def __init__(self, idx, due, events, card, n, avg):
        self.idx, self.due, self.events = idx, due, events
        # warm-up files have negative indices; names sort in write order
        self.name = f"{idx + WARMUP_FILES + 1:06d}.jsonl"
        self.card, self.n, self.avg = card, n, avg
        self.written = self.visible = self.decided = None
        self.ok_decision = None


class FraudLive(Workload):
    name = "fraud_live"

    # ------------------------------------------------------------ set-up
    def prepare(self) -> None:
        ctx = self.ctx
        spark = ctx.spark
        base = ctx.work
        self.src = os.path.join(base, "src")
        os.makedirs(self.src)
        self.ckpt = os.path.join(base, "ckpt")
        store = os.path.join(base, "store")
        self.fg10 = TracedFeatureGroup(
            ctx.tracer, spark, "cc-agg-10m", "cc_num", "trans_time", store)
        self.fg1w = TracedFeatureGroup(
            ctx.tracer, spark, "cc-agg-1w", "cc_num", "trans_time", store,
            upsert_span="featurestore.bulk_upsert")
        with ctx.tracer.span("sources.generator"):
            cards = gen_cards(spark, N_CARDS)
            week = cards.select(
                "cc_num",
                (F.lit(1) + F.pmod(F.xxhash64("cc_num", F.lit(ctx.seed)), F.lit(60)))
                .alias("num_trans_last_1w"),
                (F.lit(1.0) + F.pmod(F.xxhash64(F.lit(ctx.seed), "cc_num"), F.lit(50_000))
                 / F.lit(100.0)).alias("avg_amt_last_1w"),
            )
            self.cards = np.array(sorted(r[0] for r in cards.collect()), dtype=np.int64)
            # the background amounts follow the package generator's own
            # mixture (G3); the order of the pool is fixed by the seed
            self.amounts = np.array(
                [r[0] for r in gen_transactions(
                    spark, n=AMOUNT_POOL, n_cards=N_CARDS, seed=ctx.seed, partitions=1,
                ).select("amount").collect()],
                dtype=np.float64,
            )
        self.fg1w.upsert(week)
        with ctx.tracer.span("plans.scoring.train"):
            self.model = train_fraud_model(self._train_set(), max_iter=3)
        self.rng = np.random.default_rng(ctx.seed)
        w = 1.0 / np.arange(1, N_CARDS + 1) ** ZIPF_S
        self.card_p = w / w.sum()
        self.files: list[_File] = []
        self.drawn = 0  # background amounts used so far
        self.cond = threading.Condition()
        self.errors: list[str] = []
        self.committed: set[int] = set()
        self.batch_of: dict[int, int] = {}  # file index -> trigger that read it

    def _train_set(self):
        """A small seeded training set in which fraud has larger amounts
        and ratios."""
        rng = np.random.default_rng(self.ctx.seed + 1)
        rows = []
        for _ in range(TRAIN_ROWS):
            fraud = int(rng.random() < 0.3)
            hi = 4.0 if fraud else 1.5
            rows.append((float(rng.uniform(1, 100) * (3 if fraud else 1)),
                         float(rng.uniform(0.5, hi)), float(rng.uniform(0.1, hi)),
                         float(rng.uniform(0.2, 1.0) if fraud else rng.uniform(0.0, 0.3)),
                         fraud))
        return local_rows(
            self.ctx.spark, rows,
            "amount double, amt_ratio1 double, amt_ratio2 double, "
            "count_ratio double, fraud_label int",
        )

    def _make_file(self, idx: int, due: float) -> _File:
        rng = self.rng
        ts = round(due, 3)
        n_bg = int(RATE * FILE_INTERVAL_S)
        cards = self.cards[rng.choice(N_CARDS, size=n_bg, p=self.card_p)]
        amounts = self.amounts[np.arange(self.drawn, self.drawn + n_bg) % AMOUNT_POOL]
        self.drawn += n_bg
        n = int(rng.integers(3, 11))
        s_cents = rng.integers(100, 10_000, size=n)
        card = SENTINEL_BASE + WARMUP_FILES + 1 + idx
        events = [(int(c), float(a), ts) for c, a in zip(cards, amounts)]
        events += [(card, int(a) / 100.0, ts) for a in s_cents]
        return _File(idx, due, events, card, n, (int(s_cents.sum()) / 100.0) / n)

    def _write(self, f: _File) -> None:
        tmp = os.path.join(self.src, "." + f.name)
        with open(tmp, "w") as out:
            for c, a, ts in f.events:
                out.write(json.dumps({"cc_num": c, "merchant": "m", "amount": a,
                                      "zip_code": 10001, "trans_ts": ts}) + "\n")
        os.rename(tmp, os.path.join(self.src, f.name))
        f.written = time.time()

    def warmup(self) -> None:
        ctx = self.ctx
        stream = read_json_event_stream(ctx.spark, self.src)
        agg = sliding_agg_exact(stream, key="cc_num", ts="ts", amount="amount")
        self.query = start_stream_upsert(agg, self.fg10, self.ckpt, ts="ts")
        self.run_id = str(self.query.runId)
        self.progress: dict[int, dict] = {}
        self.threads = self._start_threads()
        # the first trigger and the first scoring call pay their cold start
        # on one file of their own
        first = self._make_file(-WARMUP_FILES - 1, time.time())
        self._wait([first], self._generate([first]))
        # then the schedule runs without a gap: WARMUP_FILES untimed files
        # bring the loop to its steady state and the measured files follow
        n = max(1, round(ctx.seconds / FILE_INTERVAL_S))
        t0 = time.time() + FILE_INTERVAL_S
        files = [self._make_file(i - WARMUP_FILES, t0 + i * FILE_INTERVAL_S)
                 for i in range(WARMUP_FILES + n)]
        self.measured = files[WARMUP_FILES:]
        self.generator = self._generate(files)
        time.sleep(max(0.0, self.measured[0].due - time.time()))

    def _generate(self, files: list[_File]) -> threading.Thread:
        """Write ``files`` on their schedule from a thread of their own."""
        def body():
            for f in files:
                time.sleep(max(0.0, f.due - time.time()))
                with self.cond:
                    self.files.append(f)
                self._write(f)

        gen = threading.Thread(target=self._guard(body), name="generator", daemon=True)
        gen.start()
        return gen

    def _wait(self, files: list[_File], gen: threading.Thread) -> None:
        """Until ``gen`` has written every file and each is decided, or
        ``VISIBLE_TIMEOUT_S`` has passed since the last was due."""
        while not self.stop.is_set():
            self._poll_progress()
            if not gen.is_alive() and all(f.decided is not None for f in files):
                break
            if time.time() > files[-1].due + VISIBLE_TIMEOUT_S:
                break
            time.sleep(0.1)
        gen.join(timeout=10)
        if self.errors:
            raise RuntimeError(f"{len(self.errors)} thread errors; first:\n{self.errors[0]}")

    # --------------------------------------------------------- threads
    def _start_threads(self):
        self.stop = threading.Event()
        ts = [threading.Thread(target=self._guard(fn), name=name, daemon=True)
              for fn, name in ((self._prober, "prober"), (self._scorer, "scorer"))]
        for t in ts:
            t.start()
        return ts

    def _stop_threads(self) -> None:
        self.stop.set()
        with self.cond:
            self.cond.notify_all()
        for t in self.threads:
            t.join(timeout=60)

    def _guard(self, fn):
        def body():
            self.ctx.tracer.register_thread()
            try:
                fn()
            except Exception:
                self.errors.append(traceback.format_exc())
                self.stop.set()
        return body

    def _prober(self) -> None:
        """Mark files fresh as the triggers that read them commit.

        A trigger's upsert flips the store's bucket versions one after
        another, so ``version_map()`` moves several times per trigger.
        The prober instead watches the query checkpoint's commit log (file
        system only), which gains one entry when a trigger has finished
        its upsert, reads that trigger's file list from the source log,
        and confirms the newest of those files with one ``get_record``.
        Sentinel values are checked after the run."""
        while not self.stop.is_set():
            for b in self._new_commits():
                names = self._batch_files(b)
                with self.cond:
                    batch = [f for f in self.files if f.name in names]
                    self.batch_of.update({f.idx: b for f in batch})
                if batch and self.fg10.get_record(batch[-1].card) is not None:
                    now = time.time()
                    with self.cond:
                        for f in batch:
                            f.visible = now
                        self.cond.notify_all()
            self.stop.wait(POLL_S)

    def _new_commits(self) -> list[int]:
        d = os.path.join(self.ckpt, "commits")
        if not os.path.isdir(d):
            return []
        ids = sorted(int(n) for n in os.listdir(d) if n.isdigit())
        new = [b for b in ids if b not in self.committed]
        self.committed.update(new)
        return new

    def _batch_files(self, b: int) -> set[str]:
        """Base names of the files trigger ``b`` read, from the file
        source's log (``<b>``, or the ``<b>.compact`` roll-up Spark writes
        every tenth batch)."""
        d = os.path.join(self.ckpt, "sources", "0")
        path = os.path.join(d, str(b))
        if not os.path.exists(path):
            path += ".compact"
        names = set()
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    if e.get("batchId", b) == b:
                        names.add(os.path.basename(e["path"]))
        return names

    def _scorer(self) -> None:
        while True:
            with self.cond:
                while not self.stop.is_set() and not any(
                    f.visible is not None and f.decided is None for f in self.files
                ):
                    self.cond.wait(0.1)
                if self.stop.is_set():
                    return
                batch = [f for f in self.files
                         if f.visible is not None and f.decided is None]
            rows = self._score(batch)
            now = time.time()
            got = {}
            for cc, n10, p in rows:
                got.setdefault(cc, []).append((n10, p))
            with self.cond:
                for f in batch:
                    f.decided = now
                    f.ok_decision = len(got.get(f.card, [])) == f.n and all(
                        n10 == f.n and p is not None for n10, p in got[f.card]
                    )

    def _score(self, batch: list[_File]) -> list:
        """One scoring call over every event of ``batch``."""
        ctx = self.ctx
        with ctx.tracer.span("plans.inference", key=[f.idx for f in batch]) as sp:
            tx = local_rows(ctx.spark, [e for f in batch for e in f.events], TX_SCHEMA)
            now = F.lit(datetime.datetime.fromtimestamp(time.time(), datetime.timezone.utc))
            # the stores keep 3 snapshots per bucket; one scoring call spans
            # at most one trigger's commit, so the snapshots it reads stay live
            scored = score(
                enrich_transactions(tx, self.fg10.get_latest(), self.fg1w.get_latest(),
                                    now=now),
                self.model,
            )
            rows = [tuple(r) for r in scored.select(
                "cc_num", "num_trans_last_10m", "probability").collect()]
            if sp is not None:
                sp["rows"] = len(rows)
        return rows

    def _poll_progress(self) -> None:
        merge_progress(self.query, self.progress)

    # ------------------------------------------------------------ run
    def run(self) -> dict:
        made = self.measured
        start = time.time()
        self._wait(made, self.generator)
        self._stop_threads()
        self._poll_progress()
        self.window = (start, time.time())
        fresh = since_due(made, "visible")
        decide = since_due(made, "decided")
        seen = [f for f in made if f.visible is not None]
        if not seen or not decide:
            raise RuntimeError("no file reached the store within the timeout")
        due_span = len(made) * FILE_INTERVAL_S
        late = since_due(made, "written")
        self.late = late
        trig = [p for _, p in sorted(self.progress.items())]
        self.samples = {"freshness_s": fresh, "decision_s": decide,
                        "trigger_s": [p["batchDuration"] / 1000.0 for p in trig]}
        # the operations are the triggers that ran wholly inside the run
        self.op_windows = [w for w in map(layers.trigger_window, trig)
                           if start <= w[0] and w[1] <= self.window[1]]
        # each trigger takes the files that arrived while the previous one
        # ran, so freshness is a sawtooth that peaks once per trigger; a
        # loop that keeps up has the same peak in both halves of the run,
        # and a growing backlog raises the second
        half = len(made) // 2
        head = since_due(made[:half], "visible")
        end = since_due(made[half:], "visible")
        tf, td = tail(fresh), tail(decide)
        return {
            "offered_events_per_s": (sum(len(f.events) for f in made) / due_span, "events/s"),
            "live_events_per_s": (sum(len(f.events) for f in seen) / due_span, "events/s"),
            "freshness_p50_s": (median(fresh), "s"),
            "freshness_tail_s": (tf and tf["value"], "s", tf),
            "freshness_first_half_max_s": (max(head) if head else None, "s"),
            "freshness_second_half_max_s": (max(end) if end else None, "s"),
            "decision_p50_s": (median(decide), "s"),
            "decision_tail_s": (td and td["value"], "s", td),
            "generator_late_p50_s": (median(late), "s"),
            "generator_late_max_s": (max(late), "s"),
            "live_triggers": (len(self.op_windows), "count"),
            "items": (sum(len(f.events) for f in seen), "events"),
            "latency_p50_s": (median(decide), "s"),
        }

    def close(self) -> None:
        if getattr(self, "threads", None) is not None:
            self._stop_threads()
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()

    # ---------------------------------------------------------- checks
    def check(self) -> None:
        ctx = self.ctx
        oc = ctx.outcomes
        final = {r["cc_num"]: (r["num_trans_last_10m"], r["avg_amt_last_10m"])
                 for r in self.fg10.get_latest().where(F.col("cc_num") >= SENTINEL_BASE)
                 .select("cc_num", "num_trans_last_10m", "avg_amt_last_10m").collect()}
        for f in self.files:
            if f.visible is None:
                oc.fail(f"file {f.idx}: sentinel not visible within {VISIBLE_TIMEOUT_S}s")
                continue
            oc.check(final.get(f.card) == (f.n, f.avg),
                     f"file {f.idx}: sentinel aggregate {final.get(f.card)} != {(f.n, f.avg)}")
            oc.check(bool(f.ok_decision), f"file {f.idx}: scored without its own features")
        for p in self.progress.values():
            ok = p.get("exception") is None
            oc.check(ok, f"trigger {p.get('batchId')} failed")
        # batch/stream duality: the store equals the latest row per card of
        # the batch twin over every written event
        spark = ctx.spark
        events = spark.read.schema(STREAM_EVENT_SCHEMA).json(self.src).withColumn(
            "ts", F.timestamp_seconds("trans_ts"))
        win = trailing_window_features_exact(events, key="cc_num", ts="ts", amount="amount")
        latest = win.groupBy("cc_num").agg(F.max("ts").alias("ts"))
        expected = win.join(latest, ["cc_num", "ts"]).select(
            "cc_num", "num_trans_last_10m", "avg_amt_last_10m").distinct()
        got = self.fg10.get_latest().select(
            "cc_num", "num_trans_last_10m", "avg_amt_last_10m")
        diff = expected.exceptAll(got).count() + got.exceptAll(expected).count()
        oc.check(diff == 0, f"{diff} store rows differ from the batch twin")

    # ---------------------------------------------------------- layers
    def layers(self, spans, attributed: dict, progress: list) -> dict:
        lo, hi = self.window
        setup = layers.by_layer(spans, attributed, 0.0, lo)
        live = layers.by_layer(spans, attributed, lo, hi)
        out = {}
        # set-up layers
        for name in ("sources.generator", "plans.scoring.train"):
            row = setup[name]
            out[f"{name}.s"] = (row["p50_s"], "s")
            out[f"{name}.jobs"] = (row["jobs_per_call"], "count")
        bulk = setup["featurestore.bulk_upsert"]
        out["featurestore.bulk_upsert.p50_s"] = (bulk["p50_s"], "s")
        out["featurestore.bulk_upsert.jobs_per_call"] = (bulk["jobs_per_call"], "count")
        out["featurestore.bulk_upsert.buckets_per_call"] = (
            _mean(s.get("buckets", 0) for s in spans
                  if s["name"] == "featurestore.bulk_upsert"), "count")

        # live layers: the measured window
        trig = sorted((p for p in self.progress.values() if epoch(p["timestamp"]) >= lo),
                      key=lambda p: p["batchId"])
        dur = [p["batchDuration"] / 1000.0 for p in trig]
        stream_jobs = [j for js in attributed.values() for j in js
                       if j["group"] == self.run_id and lo <= j["start"] <= hi]
        gaps = layers.trigger_gaps(trig, stream_jobs)
        # file index -> start of the trigger that read it
        consumed = {i: epoch(self.progress[b]["timestamp"])
                    for i, b in self.batch_of.items() if b in self.progress}
        files = self.measured
        lag = [consumed[f.idx] - f.due for f in files if f.idx in consumed]
        backlog = [
            sum(1 for f in files if f.written is not None and f.written <= epoch(p["timestamp"])
                and consumed.get(f.idx, float("inf")) >= epoch(p["timestamp"]))
            for p in trig
        ]
        # distinct background cards per trigger against a uniform draw of
        # as many events, and the store buckets each would touch
        by_trigger: dict[int, list[_File]] = {}
        for f in self.files:
            if f.idx in self.batch_of and f.idx >= 0:
                by_trigger.setdefault(self.batch_of[f.idx], []).append(f)
        n_bg = int(RATE * FILE_INTERVAL_S)
        distinct, uniform = [], []
        for fs in by_trigger.values():
            distinct.append(len({c for f in fs for c, _, _ in f.events[:n_bg]}))
            uniform.append(N_CARDS * (1 - (1 - 1 / N_CARDS) ** (n_bg * len(fs))))
        n_buckets = self.fg10.n_buckets
        up = live.get("featurestore.upsert", {})
        gr = live.get("featurestore.get_record", {})
        inf = live.get("plans.inference", {})
        state = (trig[-1].get("stateOperators") or [{}])[0] if trig else {}
        total_trig = sum(dur)
        out.update({
            "featurestore.upsert.calls": (up.get("calls", 0), "count"),
            "featurestore.upsert.p50_s": (up.get("p50_s"), "s"),
            "featurestore.upsert.total_s": (up.get("total_s", 0.0), "s"),
            "featurestore.upsert.jobs_per_call": (up.get("jobs_per_call", 0), "count"),
            "featurestore.upsert.buckets_per_call": (_mean(
                s.get("buckets", 0) for s in spans
                if s["name"] == "featurestore.upsert" and lo <= s["start"] <= hi), "count"),
            "featurestore.get_record.calls": (gr.get("calls", 0), "count"),
            "featurestore.get_record.p50_s": (gr.get("p50_s"), "s"),
            "featurestore.get_record.tail_s": (gr.get("tail_s"), "s"),
            "featurestore.get_record.jobs_per_call": (gr.get("jobs_per_call", 0), "count"),
            "featurestore.get_latest.p50_s": (
                live.get("featurestore.get_latest", {}).get("p50_s"), "s"),
            "streaming.triggers": (len(trig), "count"),
            "streaming.trigger.p50_s": (median(dur) if dur else None, "s"),
            "streaming.trigger.tail_s": ((tail(dur) or {}).get("value"), "s"),
            "streaming.rows_per_trigger": (_mean(int(p["numInputRows"]) for p in trig), "count"),
            "streaming.jobs_per_trigger": (len(stream_jobs) / max(1, len(trig)), "count"),
            "streaming.driver_gap_per_trigger_s": (_mean(gaps), "s"),
            "streaming.sliding_agg.state_rows": (state.get("numRowsTotal", 0), "count"),
            "streaming.sliding_agg.state_bytes": (state.get("memoryUsedBytes", 0), "B"),
            "streaming.upsert_sink.share": (
                up.get("total_s", 0.0) / total_trig if total_trig else None, "ratio"),
            "streaming.distinct_cards_per_trigger": (_mean(distinct), "count"),
            "streaming.distinct_cards_per_trigger_uniform": (_mean(uniform), "count"),
            "featurestore.upsert.buckets_per_call_uniform": (_mean(
                n_buckets * (1 - (1 - 1 / n_buckets) ** d) for d in uniform), "count"),
            "streaming.sources.backlog_files": (
                nearest_rank(backlog, 50) if backlog else 0, "count"),
            "streaming.input_lag_s": (median(lag) if lag else None, "s"),
            "plans.inference.calls": (inf.get("calls", 0), "count"),
            "plans.inference.p50_s": (inf.get("p50_s"), "s"),
            "plans.inference.rows_per_call": (_mean(
                s.get("rows", 0) for s in spans
                if s["name"] == "plans.inference" and lo <= s["start"] <= hi), "count"),
            "generator.late_p50_s": (median(self.late), "s"),
            "generator.late_max_s": (max(self.late), "s"),
        })
        out.update(layers.spark_totals(attributed, lo, hi))
        return out



def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0

