"""``curate_stream``: the standing curation runner, closed loop.

Input is a seeded synthetic document corpus (``N_DOCS`` documents over a
small vocabulary, with exact copies, near copies and low-quality junk
mixed in) in id order, split into micro-batch parquet files whose
boundaries the seed picks. The runner under test is
``run_curate_stream`` with the LM scorer and ``near_index_dir``, fed by a
parquet file stream read with ``maxFilesPerTrigger=1``. The LM model and
the P20 cutoff are built during set-up the way the registered
``s_stream_curate_near`` replay builds them.

The loop is closed with one client: the next batch file is released
into the stream directory as soon as the previous trigger completes, so
every trigger processes exactly one batch and the stream is never idle
for longer than the file source's poll. When the run time is used, no
more files are released and the in-flight trigger finishes. A trigger's
cost is almost all fixed per-trigger driver work (a 25-document batch
costs about what a 100-document batch does), so the gated figure is CPU
time per trigger.

The output check compares the kept set of every completed batch with
the registered DuckDB oracle ``oracle_sql()["s_stream_curate_near"]``
over the whole corpus, restricted to the ids released so far. That
restriction is exact: the quality cut uses a fixed model and cutoff, and
both dedup stages keep the smallest id, so a document's fate depends
only on documents with smaller ids.

Why: the standing-index runner, with dozens of driver actions per
trigger. Action folding, one commit protocol and the LM fold show here;
no fraud code runs.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators.lm import (
    lm_transition_scores,
)
from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
    read_lm_model,
    run_curate_stream,
    write_lm_model,
)

from . import evlog, layers
from .common import DIFF_SQL, Workload, merge_progress
from .stats import median, tail

N_DOCS = 600  # more than the warm-up and a run's triggers use
WARMUP_TRIGGERS = 1  # the first trigger builds the indexes; the measured ones probe them
BATCH_DOCS = (90, 111)  # narrow: every trigger does about the same work
N_SHARDS = 8  # the registered replay's shard count
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
JUNK = [f"zq{i}x" for i in range(400)]
TRIGGER_TIMEOUT_S = 120.0


def make_corpus(seed: int, n: int = N_DOCS) -> list[str]:
    """Seeded documents: fresh text, exact copies and one-word edits of
    earlier documents, and junk made of rare tokens."""
    rng = np.random.default_rng(seed)
    docs: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.08:
            docs.append(docs[int(rng.integers(0, i))])
        elif i > 10 and u < 0.16:
            words = docs[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            docs.append(" ".join(words))
        elif u < 0.22:
            docs.append(" ".join(JUNK[int(j)] for j in rng.integers(0, len(JUNK), 12)))
        else:
            k = int(rng.integers(8, 60))
            docs.append(" ".join(VOCAB[int(j)] for j in rng.integers(0, len(VOCAB), k)))
    return docs


def batch_bounds(seed: int, n: int = N_DOCS) -> list[int]:
    """Seeded id-ordered batch boundaries: ``[0, b1, b2, ..., n]``."""
    rng = np.random.default_rng(seed + 7)
    out = [0]
    while out[-1] < n:
        out.append(min(n, out[-1] + int(rng.integers(*BATCH_DOCS))))
    return out


class CurateStream(Workload):
    name = "curate_stream"

    def prepare(self) -> None:
        ctx = self.ctx
        spark = ctx.spark
        base = self.base = ctx.work
        self.hold = os.path.join(base, "hold")
        self.src = os.path.join(base, "src")
        os.makedirs(self.hold)
        os.makedirs(self.src)
        with ctx.tracer.span("perfbench.corpus"):
            docs = make_corpus(ctx.seed)
            table = pa.table({"doc_id": pa.array(range(len(docs)), pa.int64()),
                              "text": pa.array(docs, pa.string())})
            self.corpus = os.path.join(base, "documents.parquet")
            pq.write_table(table, self.corpus)
            bounds = batch_bounds(ctx.seed, len(docs))
            self.batches = []
            for k in range(len(bounds) - 1):
                name = f"b{k:05d}.parquet"
                pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                               os.path.join(self.hold, name))
                self.batches.append((name, bounds[k + 1], bounds[k + 1] - bounds[k]))
        docs_df = spark.read.parquet(self.corpus)
        self.model_dir = os.path.join(base, "model")
        with ctx.tracer.span("streaming.quality.write_lm_model"):
            write_lm_model(docs_df, self.model_dir)
        with ctx.tracer.span("operators.lm.calibrate"):
            scorable = lm_transition_scores(
                docs_df, model=read_lm_model(spark, self.model_dir)
            ).where(F.col("n_bigrams") > 0)
            self.cutoff = float(scorable.select("lm_score").agg(
                F.expr("percentile_disc(0.2) WITHIN GROUP (ORDER BY lm_score)")
            ).collect()[0][0])
        self.released = 0
        self.progress: dict[int, dict] = {}

    def _release(self) -> None:
        name = self.batches[self.released][0]
        os.rename(os.path.join(self.hold, name), os.path.join(self.src, name))
        self.released += 1

    def _completed(self) -> int:
        """How many batches have completed with input."""
        merge_progress(self.query, self.progress)
        return sum(1 for p in self.progress.values() if int(p["numInputRows"]) > 0)

    def _await(self, n: int) -> None:
        deadline = time.time() + TRIGGER_TIMEOUT_S
        while self._completed() < n:
            if self.query.exception() is not None:
                raise RuntimeError(f"curation trigger failed: {self.query.exception()}")
            if time.time() > deadline:
                raise RuntimeError(f"trigger {n} did not complete in {TRIGGER_TIMEOUT_S}s")
            time.sleep(0.02)

    def warmup(self) -> None:
        spark = self.ctx.spark
        stream = (spark.readStream.format("parquet").schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).load(self.src))
        self.out_dir = os.path.join(self.base, "out")
        self.index_dirs = (os.path.join(self.base, "index"),
                           os.path.join(self.base, "near_index"))
        self.query = run_curate_stream(
            stream, self.out_dir, self.index_dirs[0],
            checkpoint_dir=os.path.join(self.base, "ckpt"),
            model_dir=self.model_dir, cutoff=self.cutoff, n_shards=N_SHARDS,
            near_index_dir=self.index_dirs[1], available_now=False,
        )
        for n in range(1, WARMUP_TRIGGERS + 1):
            self._release()
            self._await(n)

    def run(self) -> dict:
        self.start()
        t0 = time.time()
        # a corpus used up before the run time ends the run early
        while time.time() - t0 < self.ctx.seconds and self.has_batches():
            self.step()
        return self.finish()

    def start(self) -> None:
        self.first = self.released
        self.released_at: list[float] = []
        self.window = (time.time(), None)

    def has_batches(self) -> bool:
        return self.released < len(self.batches)

    def step(self) -> None:
        """Release the next batch and wait until its trigger completes."""
        self.released_at.append(time.time())
        self._release()
        self._await(self.released)
        self.ctx.outcomes.ok()

    def finish(self) -> dict:
        self.window = (self.window[0], time.time())
        ids = sorted(b for b, p in self.progress.items()
                     if int(p["numInputRows"]) > 0)[self.first:]
        trig = [self.progress[b] for b in ids]
        self.measured = trig
        # a trigger's clock starts when the source polls, which can be
        # just before its batch file appeared
        self.op_windows = [(max(s, r), e) for (s, e), r in
                           zip(map(layers.trigger_window, trig), self.released_at)]
        # one batch file per trigger; numInputRows counts every re-scan of
        # the batch by the runner's actions, not documents
        docs = sum(self.batches[b][2] for b in ids)
        dur = [p["batchDuration"] / 1000.0 for p in trig]
        busy = sum(e - s for s, e in self.op_windows)
        t = tail(dur)
        self.samples = {"trigger_s": dur}
        return {
            "curate_docs_per_s": (docs / busy, "docs/s"),
            "curate_trigger_p50_s": (median(dur), "s"),
            "curate_trigger_tail_s": (t and t["value"], "s", t),
            "curate_triggers": (len(trig), "count"),
            "items": (docs, "docs"),
            "latency_p50_s": (median(dur), "s"),
        }

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()

    def check(self) -> None:
        oc = self.ctx.outcomes
        upto = self.batches[self.released - 1][1]
        from __spark_entry__ import oracle_sql

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.corpus}')")
            con.execute(
                f"CREATE TABLE want AS SELECT * FROM ({oracle_sql()['s_stream_curate_near']}) "
                f"WHERE doc_id < {upto}")
            kept = [os.path.join(self.out_dir, f"batch={b}", "kept", "*.parquet")
                    for b, p in sorted(self.progress.items()) if int(p["numInputRows"]) > 0]
            con.execute(
                "CREATE TABLE got AS SELECT doc_id, text_hash, lm_score, shard "
                f"FROM read_parquet({kept!r})")
            diff = con.execute(DIFF_SQL.format(a="got", b="want")).fetchone()[0]
            self.kept = con.execute("SELECT count(*) FROM got").fetchone()[0]
            self.upto = upto
        finally:
            con.close()
        oc.check(diff == 0, f"{diff} kept rows differ from the s_stream_curate_near oracle")

    def layers(self, spans, attributed: dict, progress: list) -> dict:
        lo, hi = self.window
        jobs = [j for j in attributed.get(evlog.STREAM, []) if lo <= j["start"] <= hi]
        dur = [p["batchDuration"] / 1000.0 for p in self.measured]
        gaps = layers.trigger_gaps(self.measured, jobs)
        n = len(self.measured)
        index_files = sum(len(fs) for d in self.index_dirs for _, _, fs in os.walk(d))
        set_up = {}
        for name in ("perfbench.corpus", "streaming.quality.write_lm_model",
                     "operators.lm.calibrate"):
            d = [s["end"] - s["start"] for s in spans if s["name"] == name]
            set_up[f"{name}.s"] = (median(d), "s")
        out = {
            "streaming.curate.triggers": (n, "count"),
            "streaming.curate.trigger.p50_s": (median(dur), "s"),
            "streaming.curate.jobs_per_trigger": (len(jobs) / n, "count"),
            "streaming.curate.driver_gap_per_trigger_s": (sum(gaps) / n, "s"),
            "streaming.curate.kept_ratio": (self.kept / self.upto, "ratio"),
            "streaming.curate.index_files": (index_files, "count"),
            **set_up,
        }
        out.update(layers.spark_totals(attributed, lo, hi))
        return out
