"""Per-job table of a Spark event log, grouped by streaming trigger.

Reads an uncompressed, non-rolling event log (``spark.eventLog.compress
=false``, ``spark.eventLog.rolling.enabled=false``) offline through
``perfbench.evlog.read_log`` and prints one row per Spark job: its SQL
execution id, the name of its last stage, its task count and duration.
Jobs are listed under the streaming trigger (progress event with input
rows) whose window holds their submission; ``thread`` is ``stream`` for
jobs the ``foreachBatch`` thread launched (their job group is the query's
run id) and ``pool`` for the rest (e.g. ``_run_independent`` siblings).
Each trigger ends with its totals: jobs, tasks, the wall time some job
was running, and the driver gap (trigger time in which none was).

Usage::

    # the log a traced benchmark run leaves behind
    python3 perfbench/run.py --workload curate_stream --seed 3 --seconds 6 --trace 1
    python3 tools/profile_stream.py .perfbench/curate_stream-s3-t1/eventlog

    # run one registered query at $SPARK_GRAFT_SF_DIR with an event log, then print it
    python3 tools/profile_stream.py s_stream_curate_near
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.common import epoch  # noqa: E402
from perfbench.evlog import find_log, read_log  # noqa: E402
from perfbench.spans import union_length  # noqa: E402


def job_meta(path: str) -> dict[int, tuple[str, str]]:
    """Job id -> (SQL execution id, name of the job's last stage)."""
    out = {}
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' not in line:
                continue
            ev = json.loads(line)
            props = ev.get("Properties") or {}
            stages = ev.get("Stage Infos") or [{"Stage ID": -1, "Stage Name": ""}]
            name = max(stages, key=lambda s: s["Stage ID"])["Stage Name"]
            op, _, site = name.partition(" at ")
            if site:  # the call site's file name, not its directory
                name = f"{op} at {os.path.basename(site)}"
            out[ev["Job ID"]] = (props.get("spark.sql.execution.id", "-"), name)
    return out


def input_rows(p: dict) -> int:
    return sum(int(src.get("numInputRows", 0)) for src in p.get("sources", []))


def print_table(path: str) -> None:
    if os.path.isdir(path):
        path = find_log(path)
    jobs, progress = read_log(path)
    meta = job_meta(path)
    run_ids = {p["runId"] for p in progress}
    triggers = sorted(
        (p for p in progress if input_rows(p) > 0), key=lambda p: epoch(p["timestamp"])
    )
    for p in triggers:
        s = epoch(p["timestamp"])
        e = s + p["batchDuration"] / 1000.0
        mine = [j for j in jobs if s <= j["start"] <= e]
        print(f"== batch {p['batchId']}: {p['batchDuration'] / 1000.0:.2f} s, "
              f"{input_rows(p)} input rows")
        print(f"  {'job':>5} {'sql':>5} {'thread':>6} {'tasks':>5} {'dur_s':>6}  stage")
        for j in mine:
            sql, stage = meta.get(j["id"], ("-", ""))
            thread = "stream" if j["group"] in run_ids else "pool"
            print(f"  {j['id']:>5} {sql:>5} {thread:>6} {j['tasks']:>5} "
                  f"{j['end'] - j['start']:>6.2f}  {stage[:80]}")
        busy = union_length([(j["start"], j["end"]) for j in mine], s, e)
        on_stream = sum(1 for j in mine if j["group"] in run_ids)
        print(f"  -- jobs {len(mine)} (stream thread {on_stream}), "
              f"sql executions {len({meta.get(j['id'], ('-',))[0] for j in mine})}, "
              f"tasks {sum(j['tasks'] for j in mine)}, "
              f"job time {busy:.2f} s, driver gap {e - s - busy:.2f} s")


def run_query(name: str, log_dir: str) -> None:
    """Run registered query ``name`` twice (a warm run, then the profiled
    one) with the event log written to ``log_dir``."""
    from pyspark.sql import functions as F

    from amazon_sagemaker_feature_store_streaming_aggregation_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    for _ in range(2):
        df = fn(spark, sf_dir)
        df.select(F.count(F.lit(1)), F.bit_xor(F.xxhash64(F.struct(*df.columns)))).first()
    spark.stop()


def main() -> None:
    target = sys.argv[1]
    if os.path.exists(target):
        print_table(target)
        return
    with tempfile.TemporaryDirectory() as log_dir:
        run_query(target, log_dir)
        print_table(log_dir)


if __name__ == "__main__":
    main()
