"""Tests for the benchmark's own helpers (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import datetime
import os
import types

import pytest

from perfbench import evlog, layers, procs
from perfbench.common import epoch, merge_progress
from perfbench.spans import GROUP_PREFIX, Tracer, self_times, union_length
from perfbench.stats import Outcomes, median, nearest_rank, since_due, tail

FIXTURE = os.path.join(os.path.dirname(__file__), "eventlog_fixture.jsonl")


# ------------------------------------------------------------------ stats
def test_nearest_rank_returns_a_sample():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert nearest_rank(xs, 50) == 3.0
    assert nearest_rank(xs, 100) == 5.0
    assert nearest_rank(xs, 1) == 1.0
    assert nearest_rank(xs, 20) == 1.0  # rank ceil(0.2 * 5) = 1
    assert nearest_rank(xs, 21) == 2.0


def test_median_of_even_count_is_lower_middle():
    assert median([4, 1, 3, 2]) == 2
    assert median([7]) == 7


def test_nearest_rank_rejects_bad_input():
    with pytest.raises(ValueError):
        nearest_rank([], 50)
    with pytest.raises(ValueError):
        nearest_rank([1], 0)
    with pytest.raises(ValueError):
        nearest_rank([1], 101)


def test_tail_keeps_ten_samples_beyond_it():
    assert tail(list(range(10))) is None
    assert tail(list(range(11))) == {"value": 0, "pct": 100.0 / 11, "n": 11}
    t = tail(list(range(1, 101)))  # 100 samples: rank 90, the p90
    assert t == {"value": 90, "pct": 90.0, "n": 100}
    xs = list(range(1, 41))
    t = tail(xs)
    assert t["value"] == 30 and t["pct"] == 75.0
    assert sum(1 for x in xs if x > t["value"]) == 10


# ------------------------------------------------------------------ spans
def _span(sid, parent, start, end, name="x", thread="MainThread", group=None):
    return {"id": sid, "parent": parent, "name": name, "start": start,
            "end": end, "thread": thread, "group": group, "key": None}


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], lo=1, hi=5.5) == 2.5
    assert union_length([]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 5.0),  # overlaps its sibling: 1..5 covered once
        _span(4, 2, 1.5, 2.0),  # grandchild: counts against span 2 only
        _span(5, 1, 9.0, 12.0),  # runs past its parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_records_parents_and_is_inert_when_off():
    off = Tracer(False)
    with off.span("a") as s:
        assert s is None
    assert off.spans == []

    on = Tracer(True)
    with on.span("outer", key=1):
        with on.span("inner", key=1) as inner:
            inner["rows"] = 3
    by = {s["name"]: s for s in on.spans}
    assert by["inner"]["parent"] == by["outer"]["id"]
    assert by["outer"]["parent"] is None
    assert by["inner"]["rows"] == 3
    assert by["outer"]["start"] <= by["inner"]["start"] <= by["inner"]["end"] <= by["outer"]["end"]


def test_tracer_sets_and_restores_the_job_group_on_bench_threads():
    props = {}
    sc = types.SimpleNamespace(
        getLocalProperty=lambda k: props.get(k),
        setJobGroup=lambda g, d: props.__setitem__("spark.jobGroup.id", g),
        setLocalProperty=lambda k, v: props.__setitem__(k, v),
    )
    tracer = Tracer(True, types.SimpleNamespace(sparkContext=sc))
    with tracer.span("unregistered"):
        assert "spark.jobGroup.id" not in props
    tracer.register_thread()
    with tracer.span("a") as a:
        assert props["spark.jobGroup.id"] == f"{GROUP_PREFIX}{a['id']}"
        with tracer.span("b") as b:
            assert props["spark.jobGroup.id"] == f"{GROUP_PREFIX}{b['id']}"
        assert props["spark.jobGroup.id"] == f"{GROUP_PREFIX}{a['id']}"
    assert props["spark.jobGroup.id"] is None


# ---------------------------------------------------------------- evlog
def test_event_log_reader_on_fixture():
    jobs, progress = evlog.read_log(FIXTURE)
    assert [j["id"] for j in jobs] == [0, 1, 2]
    j0, j1, j2 = jobs
    assert j0["group"] == "pb|1" and j1["group"] == "run-a" and j2["group"] is None
    assert (j0["start"], j0["end"]) == (1000.0, 1002.0)
    assert j0["stages"] == 2 and j0["tasks"] == 3
    assert j0["task_s"] == pytest.approx(0.35)
    assert j0["gc_s"] == pytest.approx(0.015)
    assert j0["shuffle_write_bytes"] == 1200
    assert j0["shuffle_read_bytes"] == 1200
    assert j0["spill_bytes"] == 96
    # stage 1 is listed again by job 1 but ran for job 0 only
    assert j1["stages"] == 1 and j1["tasks"] == 1 and j1["shuffle_read_bytes"] == 10
    assert progress == [{"runId": "run-a", "batchId": 0, "batchDuration": 1500,
                         "timestamp": "1970-01-01T00:16:42.900Z", "numInputRows": 7}]


def test_event_log_totals_and_driver_gap():
    jobs, _ = evlog.read_log(FIXTURE)
    t = evlog.totals(jobs, 1000.0, 1010.0)
    assert t["jobs"] == 3 and t["stages"] == 4 and t["tasks"] == 5
    assert t["job_s"] == pytest.approx(2.0 + 1.0 + 0.5)
    assert t["driver_gap_s"] == pytest.approx(10.0 - 3.5)
    assert evlog.totals(jobs, 1002.5, 1010.0)["jobs"] == 2


def test_event_log_attribution_rules():
    jobs, _ = evlog.read_log(FIXTURE)
    spans = [
        _span(1, None, 999.0, 1002.5, "featurestore.get_record", group="pb|1"),
        # a foreachBatch callback span: holds job 1's submission
        _span(2, None, 1002.9, 1004.1, "featurestore.upsert", thread="Thread-7"),
        # bench-thread span around job 2 (no group on the job)
        _span(3, None, 1005.0, 1007.0, "plans.inference"),
    ]
    got = evlog.attribute(jobs, spans, run_ids={"run-a"}, bench_threads={"MainThread"})
    assert [j["id"] for j in got[1]] == [0]
    assert [j["id"] for j in got[2]] == [1]
    assert [j["id"] for j in got[3]] == [2]
    # without the callback span the trigger job falls to the stream bucket
    got = evlog.attribute(jobs, spans[:1], run_ids={"run-a"}, bench_threads={"MainThread"})
    assert [j["id"] for j in got[evlog.STREAM]] == [1]
    assert [j["id"] for j in got[None]] == [2]


def test_by_layer_rolls_up_spans_and_jobs():
    jobs, _ = evlog.read_log(FIXTURE)
    spans = [_span(1, None, 999.0, 1002.5, "featurestore.get_record", group="pb|1")]
    att = evlog.attribute(jobs, spans, run_ids=(), bench_threads={"MainThread"})
    row = layers.by_layer(spans, att, 0.0, 2000.0)["featurestore.get_record"]
    assert row["calls"] == 1 and row["jobs"] == 1 and row["jobs_per_call"] == 1
    assert row["total_s"] == pytest.approx(3.5)
    assert row["driver_gap_s"] == pytest.approx(1.5)  # 3.5 s span, its job ran 2 s
    assert row["tail_s"] is None


# ------------------------------------------------------------- progress
def _progress(batch, start, dur_ms, rows=1):
    ts = datetime.datetime.fromtimestamp(start, datetime.timezone.utc).isoformat()
    return {"batchId": batch, "timestamp": ts.replace("+00:00", "Z"),
            "batchDuration": dur_ms, "numInputRows": rows}


def test_epoch_reads_progress_timestamps():
    assert epoch("1970-01-01T00:16:42.900Z") == pytest.approx(1002.9)


def test_merge_progress_survives_the_retention_window():
    q = types.SimpleNamespace(recentProgress=[_progress(0, 10, 100), None])
    seen = merge_progress(q, {})
    # later reads no longer hold batch 0; an idle update names batch 1
    # before it runs, and the update with input replaces it
    q.recentProgress = [_progress(1, 11, 100, rows=0)]
    merge_progress(q, seen)
    q.recentProgress = [_progress(1, 11, 100, rows=5), _progress(1, 12, 100, rows=0)]
    merge_progress(q, seen)
    assert sorted(seen) == [0, 1] and seen[1]["numInputRows"] == 5


def test_trigger_windows_and_gaps():
    trig = [_progress(0, 100.0, 2000), _progress(1, 102.0, 4000)]
    jobs = [{"start": 100.5, "end": 101.0}, {"start": 100.8, "end": 101.5},
            {"start": 103.0, "end": 104.0}, {"start": 99.0, "end": 105.0}]
    # trigger 0: jobs cover 100.5-101.5 of 2 s; trigger 1: 103-104 of 4 s
    # (a job submitted before a trigger is not its job)
    assert layers.trigger_gaps(trig, jobs) == pytest.approx([1.0, 3.0])
    assert layers.trigger_window(trig[1]) == pytest.approx((102.0, 106.0))


def test_cpu_sampler_interpolates_between_samples():
    cpu = procs.CpuSampler(root=0)
    cpu.samples = [(10.0, 1.0), (10.1, 1.3), (10.2, 1.4)]
    assert cpu.at(10.05) == pytest.approx(1.15)
    assert cpu.between(10.0, 10.2) == pytest.approx(0.4)
    with pytest.raises(ValueError):
        cpu.at(10.3)


# -------------------------------------------------------------- outcomes
def test_failed_ratio_counts_checks_and_failures():
    oc = Outcomes()
    assert oc.failed_ratio == 1.0  # nothing attempted is a failure
    oc.ok(3)
    assert oc.check(True, "fine") is True
    assert oc.check(False, "wrong value") is False
    oc.fail("timed out")
    assert (oc.attempted, oc.failed) == (6, 2)
    assert oc.failed_ratio == pytest.approx(2 / 6)
    assert oc.reasons == ["wrong value", "timed out"]


def test_open_loop_latency_runs_from_due_time():
    class File(types.SimpleNamespace):
        pass

    # due at 10 s, written 2 s late, fresh 1 s after the write
    late = File(due=10.0, written=12.0, visible=13.0, decided=None)
    on_time = File(due=11.0, written=11.0, visible=12.5, decided=13.0)
    files = [late, on_time]
    assert since_due(files, "written") == [2.0, 0.0]
    assert since_due(files, "visible") == [3.0, 1.5]  # not 1.0 from the write
    assert since_due(files, "decided") == [2.0]  # undecided files are left out
