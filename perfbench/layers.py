"""Per-layer roll-up of a traced run: spans joined with event-log jobs."""

from __future__ import annotations

from . import evlog
from .common import epoch
from .spans import self_times, union_length
from .stats import median, tail


def by_layer(spans, attributed: dict, lo: float, hi: float) -> dict[str, dict]:
    """Per span name, over the spans that started inside ``[lo, hi]``:
    calls, wall/self time, job totals and the driver gap (span wall time
    in which none of its jobs ran)."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        if not lo <= s["start"] <= hi:
            continue
        jobs = attributed.get(s["id"], [])
        wall = s["end"] - s["start"]
        busy = union_length([(j["start"], j["end"]) for j in jobs], s["start"], s["end"])
        row = out.setdefault(
            s["name"],
            {"calls": 0, "durations": [], "self_s": 0.0, "driver_gap_s": 0.0,
             "jobs": 0, **dict.fromkeys(evlog.JOB_FIELDS, 0)},
        )
        row["calls"] += 1
        row["durations"].append(wall)
        row["self_s"] += selfs[s["id"]]
        row["driver_gap_s"] += wall - busy
        row["jobs"] += len(jobs)
        for k in evlog.JOB_FIELDS:
            row[k] += sum(j[k] for j in jobs)
    for row in out.values():
        d = row.pop("durations")
        row["total_s"] = sum(d)
        row["p50_s"] = median(d)
        t = tail(d)
        row["tail_s"] = t["value"] if t else None
        row["jobs_per_call"] = row["jobs"] / row["calls"]
    return out


def trigger_window(p: dict) -> tuple[float, float]:
    """Start and end (epoch seconds) of one streaming progress update."""
    s = epoch(p["timestamp"])
    return s, s + p["batchDuration"] / 1000.0


def trigger_gaps(progress, jobs) -> list[float]:
    """Per trigger: its ``batchDuration`` minus the time covered by the
    ``jobs`` submitted inside it (the driver gap)."""
    out = []
    for p in progress:
        s, e = trigger_window(p)
        busy = [(j["start"], j["end"]) for j in jobs if s <= j["start"] <= e]
        out.append(e - s - union_length(busy, s, e))
    return out


def spark_totals(attributed: dict, lo: float, hi: float) -> dict:
    """``spark.*`` metrics over every job submitted inside ``[lo, hi]``."""
    jobs = [j for js in attributed.values() for j in js]
    t = evlog.totals(jobs, lo, hi)
    return {
        "spark.jobs": (t["jobs"], "count"),
        "spark.stages": (t["stages"], "count"),
        "spark.tasks": (t["tasks"], "count"),
        "spark.job_s": (t["job_s"], "s"),
        "spark.driver_gap_s": (t["driver_gap_s"], "s"),
        "spark.shuffle_read_bytes": (t["shuffle_read_bytes"], "B"),
        "spark.shuffle_write_bytes": (t["shuffle_write_bytes"], "B"),
        "spark.spill_bytes": (t["spill_bytes"], "B"),
        "spark.gc_s": (t["gc_s"], "s"),
    }


#: The per-layer metrics every traced run reports (BENCHMARK.json
#: ``per_layer``). A workload that does not exercise a layer reports its
#: counts as 0. Layer *times* are in each run's report but not here,
#: because a layer a workload never calls has no time to report.
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "operators.window_agg.jobs": "count",
    "operators.window_agg.shuffle_write_bytes": "B",
    "operators.window_agg.spill_bytes": "B",
    "plans.batch_ingest.jobs": "count",
    "featurestore.bulk_upsert.jobs_per_call": "count",
    "featurestore.bulk_upsert.buckets_per_call": "count",
    "featurestore.upsert.calls": "count",
    "featurestore.upsert.jobs_per_call": "count",
    "featurestore.upsert.buckets_per_call": "count",
    "featurestore.get_record.calls": "count",
    "featurestore.get_record.jobs_per_call": "count",
    "streaming.triggers": "count",
    "streaming.rows_per_trigger": "count",
    "streaming.jobs_per_trigger": "count",
    "streaming.sliding_agg.state_rows": "count",
    "streaming.sliding_agg.state_bytes": "B",
    "streaming.sources.backlog_files": "count",
    "plans.inference.calls": "count",
    "plans.inference.rows_per_call": "count",
    "streaming.curate.jobs_per_trigger": "count",
    "streaming.curate.driver_gap_per_trigger_s": "s",
    "streaming.curate.index_files": "count",
}
