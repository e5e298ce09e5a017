"""Offline reader for an uncompressed, non-rolling Spark event log.

A traced run turns the event log on through ``get_spark(extra_conf=...)``
and reads it here after the session stops. The reader turns the log into
one record per job: its job group, submit and completion times, and the
stages, tasks, executor time, shuffle bytes, spill bytes and GC time of
the tasks that ran for it. It also returns the streaming progress events
the log carries.

``attribute`` assigns each job to a benchmark span:

1. a job whose group is ``pb|<span id>`` belongs to that span (the
   benchmark set the group on the thread that made the call);
2. a job whose group is a streaming query's run id belongs to that
   query's triggers, and within them to the innermost span recorded on a
   non-benchmark thread whose interval holds the job's submission (the
   ``foreachBatch`` callback spans);
3. any other job falls back to the innermost span whose time window
   holds its submission.

Jobs that match nothing stay unattributed; they still count in the
whole-run ``spark.*`` totals.
"""

from __future__ import annotations

import json
import os

from .spans import GROUP_PREFIX, union_length

#: attribution key of trigger jobs that no callback span holds
STREAM = "stream"

JOB_FIELDS = (
    "stages",
    "tasks",
    "task_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
)


def find_log(log_dir: str) -> str:
    """The single application log under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read_log(path: str) -> tuple[list[dict], list[dict]]:
    """Parse ``path`` into ``(jobs, progress)``.

    Each job is a dict with ``id``, ``group``, ``start`` and ``end``
    (epoch seconds) and the totals named in ``JOB_FIELDS``. ``progress``
    holds the ``progress`` payload of every streaming progress event.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    ran_stages: set[int] = set()
    progress: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "id": jid,
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    **{k: 0 for k in JOB_FIELDS},
                }
                # a stage listed by several jobs ran (if at all) for
                # the first of them; later jobs list it as skipped
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid not in ran_stages and sid in stage_job:
                    ran_stages.add(sid)
                    jobs[stage_job[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or m is None:
                    continue
                job = jobs[jid]
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                job["tasks"] += 1
                job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                job["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                job["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            elif kind.endswith("QueryProgressEvent"):
                progress.append(ev["progress"])
    out = []
    for job in sorted(jobs.values(), key=lambda j: j["id"]):
        if job["end"] is None:  # still running when the log was closed
            job["end"] = job["start"]
        out.append(job)
    return out, progress


def totals(jobs, lo: float | None = None, hi: float | None = None) -> dict:
    """Whole-window Spark totals over the jobs submitted in ``[lo, hi]``.

    ``job_s`` is the wall time covered by at least one running job;
    ``driver_gap_s`` is the rest of the window, where no job ran.
    """
    sel = [
        j
        for j in jobs
        if (lo is None or j["start"] >= lo) and (hi is None or j["start"] <= hi)
    ]
    out = {"jobs": len(sel), **{k: sum(j[k] for j in sel) for k in JOB_FIELDS}}
    out["job_s"] = union_length([(j["start"], j["end"]) for j in sel], lo, hi)
    if lo is not None and hi is not None:
        out["driver_gap_s"] = max(0.0, (hi - lo) - out["job_s"])
    return out


def attribute(jobs, spans, run_ids=(), bench_threads=()) -> dict:
    """Map span id -> the jobs attributed to it. Trigger jobs outside
    every callback span map to ``STREAM``; ``None`` collects the
    unattributed. See the module docstring for the rules."""
    by_group = {s["group"]: s["id"] for s in spans if s.get("group")}
    callback = [s for s in spans if s["thread"] not in bench_threads]
    run_ids = set(run_ids)

    def innermost(pool, t):
        best = None
        for s in pool:
            if s["start"] <= t <= s["end"] and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        return best["id"] if best is not None else None

    out: dict[int | None, list] = {}
    for job in jobs:
        g = job["group"]
        if g is not None and g.startswith(GROUP_PREFIX):
            sid = by_group.get(g)
        elif g in run_ids:
            # trigger jobs outside every callback span are the stream's
            # own work (source, stateful operator, commit)
            sid = innermost(callback, job["start"]) or STREAM
        else:
            sid = innermost(spans, job["start"])
        out.setdefault(sid, []).append(job)
    return out
