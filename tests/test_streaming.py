"""Streaming parity tests: replay the events table as a file stream and
assert the reference's batch/stream duality EXACTLY — the per-event
streaming aggregates must equal the batch RANGE-window query over the
same data (README.md:19-22 of the reference)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from amazon_sagemaker_feature_store_streaming_aggregation_spark.featurestore import FeatureGroup
from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators import (
    trailing_window_features_exact,
)
from amazon_sagemaker_feature_store_streaming_aggregation_spark.sources import load_table
from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
    read_event_stream,
    sliding_agg_exact,
    sliding_agg_windowed,
    start_stream_upsert,
)

from .conftest import SF0001


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    """sf0.001 events split into 3 time-ordered parquet files."""
    d = tmp_path_factory.mktemp("replay")
    events = (
        load_table(spark, SF0001, "events")
        .select("event_id", "ts", "user_id", "value")
        .orderBy("ts")
    )
    rows = events.collect()
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(chunk, events.schema).coalesce(1).write.parquet(
            str(d / f"chunk_{i}")
        )
    # flatten: file source wants one dir of files
    import glob
    import shutil

    out = tmp_path_factory.mktemp("replay_flat")
    import os
    import time

    now = time.time()
    for i in range(3):
        src = glob.glob(str(d / f"chunk_{i}" / "*.parquet"))[0]
        dst = str(out / f"{i:02d}.parquet")
        shutil.copy(src, dst)
        # FileStreamSource orders by modification time — make the replay
        # order explicit (chunks are time-ordered).
        os.utime(dst, (now + i * 60, now + i * 60))
    return str(out)


def _batch_twin(spark):
    tx = load_table(spark, SF0001, "events").select(
        F.col("user_id").alias("cc_num"),
        F.col("ts"),
        F.col("value").alias("amount"),
    )
    return trailing_window_features_exact(
        tx, key="cc_num", ts="ts", amount="amount"
    ).select("cc_num", "ts", "num_trans_last_10m", "avg_amt_last_10m")


def _canon(df):
    return sorted(
        (r["cc_num"], r["ts"], r["num_trans_last_10m"], r["avg_amt_last_10m"])
        for r in df.collect()
    )


def test_no_duplicate_event_times_per_key(spark):
    # precondition for exact stream/batch equality (ties across batch
    # boundaries would be invisible to earlier-arriving rows)
    dups = (
        load_table(spark, SF0001, "events")
        .groupBy("user_id", "ts")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dups == 0


def test_exact_stream_equals_batch_twin_multibatch(spark, replay_dir, tmp_path):
    schema = "event_id long, ts timestamp, user_id long, value double"
    stream = read_event_stream(spark, replay_dir, schema, max_files_per_trigger=1)
    agg = sliding_agg_exact(stream, key="user_id", ts="ts", amount="value")
    q = (
        agg.writeStream.format("memory")
        .queryName("s4_exact_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _canon(spark.table("s4_exact_out"))
    want = _canon(_batch_twin(spark))
    assert len(got) == len(want)
    assert got == want  # bit-exact duality, doubles included


def test_stream_upsert_into_feature_group(spark, replay_dir, tmp_path):
    schema = "event_id long, ts timestamp, user_id long, value double"
    stream = read_event_stream(spark, replay_dir, schema, max_files_per_trigger=1)
    agg = sliding_agg_exact(stream, key="user_id", ts="ts", amount="value")
    fg = FeatureGroup(
        spark, "cc-agg-fg", "cc_num", "trans_time", str(tmp_path), n_buckets=4
    )
    q = start_stream_upsert(
        agg, fg, str(tmp_path / "ckpt2"), ts="ts", available_now=True
    )
    q.awaitTermination(120)
    # store state == latest row per key of the batch twin
    twin = _batch_twin(spark)
    w_latest = {
        r["cc_num"]: (r["num_trans_last_10m"], r["avg_amt_last_10m"])
        for r in twin.withColumn(
            "__rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "cc_num"
                ).orderBy(F.col("ts").desc())
            ),
        )
        .filter("__rn = 1")
        .collect()
    }
    got = {
        r["cc_num"]: (r["num_trans_last_10m"], r["avg_amt_last_10m"])
        for r in fg.get_latest().collect()
    }
    assert got == w_latest


def _run_stream_jsonl(spark, src_dir, tmp_path, name, **agg_kwargs):
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
        read_json_event_stream,
    )

    stream = read_json_event_stream(spark, src_dir, max_files_per_trigger=1)
    agg = sliding_agg_exact(stream, key="cc_num", ts="ts", amount="amount", **agg_kwargs)
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return sorted(
        (r["cc_num"], r["ts"], r["num_trans_last_10m"], r["avg_amt_last_10m"])
        for r in spark.table(name).collect()
    )


def test_tied_timestamps_use_range_peer_semantics(spark, tmp_path):
    """RANGE ... CURRENT ROW includes ALL rows tied at the current
    timestamp (ANSI peers), so two same-(key, ts) events arriving in one
    micro-batch must BOTH see count=2 — and a later event must count
    buffered same-ts peers from earlier batches. (An *earlier*-arriving
    row can never see a future tie: inherent to streaming, same as KDA.)"""
    import json

    T0 = 1_700_000_000
    src = tmp_path / "ties"
    src.mkdir()
    f0 = [
        {"cc_num": 1, "merchant": "m", "amount": 10.0, "zip_code": 1, "trans_ts": float(T0)},
        {"cc_num": 1, "merchant": "m", "amount": 20.0, "zip_code": 1, "trans_ts": float(T0)},
        {"cc_num": 1, "merchant": "m", "amount": 40.0, "zip_code": 1, "trans_ts": float(T0 + 30)},
        {"cc_num": 2, "merchant": "m", "amount": 5.0, "zip_code": 1, "trans_ts": float(T0)},
    ]
    f1 = [
        {"cc_num": 2, "merchant": "m", "amount": 7.0, "zip_code": 1, "trans_ts": float(T0)},
    ]
    (src / "00.jsonl").write_text("\n".join(json.dumps(e) for e in f0))
    (src / "01.jsonl").write_text("\n".join(json.dumps(e) for e in f1))
    import os
    import time

    now = time.time()
    os.utime(src / "00.jsonl", (now, now))
    os.utime(src / "01.jsonl", (now + 60, now + 60))

    got = _run_stream_jsonl(spark, str(src), tmp_path, "s4_ties")
    ts0 = dt.datetime.fromtimestamp(T0, dt.timezone.utc).replace(tzinfo=None)
    ts30 = dt.datetime.fromtimestamp(T0 + 30, dt.timezone.utc).replace(tzinfo=None)
    want = sorted(
        [
            (1, ts0, 2, 15.0),          # tie peer, same batch
            (1, ts0, 2, 15.0),          # tie peer, same batch
            (1, ts30, 3, 70.0 / 3),
            (2, ts0, 1, 5.0),           # earlier arrival: future tie invisible
            (2, ts0, 2, 6.0),           # later arrival: buffered peer counted
        ]
    )
    assert got == want


def test_auto_spill_matches_raw_on_second_grain_hot_key(spark, tmp_path):
    """state_mode='auto' (the default) must spill a hot key's ring to the
    per-second bucket mode without changing second-grain results: 60
    events on one key across 2 micro-batches with spill_points=16 forces
    the spill after batch 1, so batch 2 runs bucketed."""
    import json

    T0 = 1_700_000_000
    src = tmp_path / "hot"
    src.mkdir()
    rows = [
        {"cc_num": 7, "merchant": "m", "amount": float(i % 9 + 1), "zip_code": 1,
         "trans_ts": float(T0 + i * 3)}
        for i in range(60)
    ]
    (src / "00.jsonl").write_text("\n".join(json.dumps(e) for e in rows[:30]))
    (src / "01.jsonl").write_text("\n".join(json.dumps(e) for e in rows[30:]))
    import os
    import time

    now = time.time()
    os.utime(src / "00.jsonl", (now, now))
    os.utime(src / "01.jsonl", (now + 60, now + 60))

    auto = _run_stream_jsonl(
        spark, str(src), tmp_path, "s4_auto", state_mode="auto", spill_points=16
    )
    raw = _run_stream_jsonl(spark, str(src), tmp_path, "s4_raw", state_mode="raw")
    assert auto == raw
    assert len(auto) == 60


def test_bucket_ring_state_is_bounded_by_window():
    """numpy-level: after folding any chunk, the bucket ring holds at
    most window_s+1 buckets, independent of event count."""
    import numpy as np

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming.sliding_agg import (
        _bucket_chunk,
        _to_buckets,
    )

    window_s = 600
    # 100k events, 1000/s over 100 s on one key
    ts_us = np.repeat(np.arange(100, dtype=np.int64), 1000) * 1_000_000
    cents = np.ones(100_000, dtype=np.int64)
    sec, cnt, c = _to_buckets(ts_us, cents)
    assert len(sec) == 100 and cnt.sum() == 100_000
    count, avg, sec2, cnt2, c2 = _bucket_chunk(
        sec, cnt, c, np.arange(100, 700, dtype=np.int64), np.ones(600, dtype=np.int64), window_s
    )
    assert len(sec2) <= window_s + 1
    # RANGE check at second 100: 100 old buckets (100k) + itself +
    # in-chunk peers at sec<=100 (just itself) => 100_001
    assert count[0] == 100_001


def test_trim_zip_importer_cache_drops_only_sub_path_importers(tmp_path):
    """The state workers' cache trim removes the zipimporters of
    sub-packages inside an archive (each one re-reads the whole archive
    on every ``importlib.invalidate_caches()``) and keeps the archive's
    own importer; a later fresh import from the archive still works."""
    import importlib
    import os
    import sys
    import zipfile
    import zipimport

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming.sliding_agg import (
        trim_zip_importer_cache,
    )

    archive = str(tmp_path / "zpkg_archive.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/mod.py", "VALUE = 1\n")
        z.writestr("zpkg/other/__init__.py", "")
        z.writestr("zpkg/other/mod.py", "VALUE = 2\n")
    sub_paths = [os.path.join(archive, "zpkg"), os.path.join(archive, "zpkg", "sub")]
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zpkg.sub.mod").VALUE == 1
        cache = sys.path_importer_cache
        for p in [archive, *sub_paths]:
            assert isinstance(cache.get(p), zipimport.zipimporter), p
        others = {
            p: f
            for p, f in cache.items()
            if not isinstance(f, zipimport.zipimporter)
        }

        trim_zip_importer_cache()

        assert isinstance(cache.get(archive), zipimport.zipimporter)
        assert not any(p in cache for p in sub_paths)
        assert all(cache.get(p) is f for p, f in others.items())
        assert importlib.import_module("zpkg.other.mod").VALUE == 2
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[p]


def test_windowed_approximation_semantics(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 30)
    rows = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(minutes=2), 20.0),
        (2, t0 + dt.timedelta(minutes=1), 5.0),
    ]
    df = spark.createDataFrame(rows, "cc_num long, ts timestamp, amount double")
    out = sliding_agg_windowed(df).collect()
    # the window ending right after t0+2min for key 1 must contain both rows
    best = {}
    for r in out:
        k = r["cc_num"]
        if k not in best or r["ts"] > best[k][0]:
            pass
        # keep max count row per key as proxy
    counts = {}
    for r in out:
        counts[r["cc_num"]] = max(counts.get(r["cc_num"], 0), r["num_trans_last_10m"])
    assert counts[1] == 2
    assert counts[2] == 1


def test_kafka_value_projection_plan(spark):
    """S1 kafka leg: the value projection applied to kafka-wire-shaped
    rows (binary value + metadata) yields the identical typed schema and
    rows as the file JSON source — the downstream plan is source-
    agnostic. (No broker in the sandbox: the reader config is exercised
    only up to .load(), the projection is what carries the semantics.)"""
    import json as _json

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
        kafka_value_projection,
    )

    payloads = [
        {"cc_num": 1, "merchant": "m", "amount": 10.0, "zip_code": 1,
         "trans_ts": 1_700_000_000.0},
        {"cc_num": 2, "merchant": "n", "amount": 20.0, "zip_code": 2,
         "trans_ts": 1_700_000_001.0},
    ]
    wire = spark.createDataFrame(
        [
            (str(p["cc_num"]).encode(), _json.dumps(p).encode(), "tx", 0, i,
             dt.datetime(2024, 1, 1), 0)
            for i, p in enumerate(payloads)
        ],
        "key binary, value binary, topic string, partition int, offset long,"
        " timestamp timestamp, timestampType int",
    )
    out = kafka_value_projection(wire)
    assert [f.simpleString() for f in out.schema.fields] == [
        "cc_num:bigint", "merchant:string", "amount:double",
        "zip_code:int", "trans_ts:double", "ts:timestamp",
    ]
    rows = sorted((r["cc_num"], r["amount"]) for r in out.collect())
    assert rows == [(1, 10.0), (2, 20.0)]
    # no Python evaluation anywhere in the projection
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_progress_summary_accounts_for_all_input(spark, tmp_path):
    """progress_summary: input_rows equals the replayed table size,
    batches counted, state rows reported for a stateful query."""
    import os

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
        dedup_stream_exact,
        progress_summary,
        read_event_stream,
    )

    stream_dir = tmp_path / "src"
    stream_dir.mkdir()
    os.symlink(
        f"{SF0001}/events.parquet", stream_dir / "00.parquet"
    )
    stream = read_event_stream(
        spark,
        str(stream_dir),
        "event_id long, ts timestamp_ntz, user_id long, value double",
    )
    deduped = dedup_stream_exact(
        stream, ["event_id"], ts_col="ts", watermark="10 minutes"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("metrics_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    m = progress_summary(q)
    assert m["num_batches"] >= 1
    assert m["input_rows"] == 1000  # sf0.001 events
    # watermark-bounded dedup EVICTS state once the watermark passes:
    # the final snapshot holds far fewer rows than the input — exactly
    # the bounded-state property the summary exists to monitor
    assert 0 <= m["state_rows"] < 1000
    assert m["rows_per_sec"] > 0
    assert m["max_batch_ms"] >= 1


def test_refreshed_dim_enrich_sees_mid_stream_dimension_update(spark, tmp_path):
    """The foreachBatch re-read must pick up a dimension row updated
    BETWEEN micro-batches — the exact case the plan-frozen
    stream-static join silently serves stale."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    from pyspark.sql import functions as F

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming.enrich import (
        start_refreshed_dim_enrich,
    )

    # two single-file event chunks -> two micro-batches (1 file/trigger)
    sdir = tmp_path / "events_in"
    sdir.mkdir()
    now = _time.time()
    for i in range(2):
        f = str(sdir / f"{i:02d}.parquet")
        spark.createDataFrame([(1, i)], "user_id long, seq long").coalesce(
            1
        ).write.mode("overwrite").parquet(f + ".dir")
        _shutil.copy(_glob.glob(f + ".dir/*.parquet")[0], f)
        _shutil.rmtree(f + ".dir")
        _os.utime(f, (now + i * 60, now + i * 60))

    dim_path = str(tmp_path / "dim")

    def write_dim(tag):
        spark.createDataFrame([(1, tag)], "user_id long, tag string").write.mode(
            "overwrite"
        ).parquet(dim_path)

    write_dim("v1")

    def on_batch_done(batch_id):
        if batch_id == 0:
            write_dim("v2")  # update BETWEEN batch 0 and batch 1

    stream = (
        spark.readStream.format("parquet")
        .schema("user_id long, seq long")
        .option("maxFilesPerTrigger", 1)
        .load(str(sdir))
    )
    out = str(tmp_path / "enriched")
    q = start_refreshed_dim_enrich(
        stream, dim_path, "user_id", out, str(tmp_path / "ckpt"),
        on_batch_done=on_batch_done,
    )
    assert q.awaitTermination(120)

    got = {
        r.seq: r.tag for r in spark.read.parquet(out).collect()
    }
    # batch 0 (seq=0) enriched against v1; batch 1 (seq=1) sees v2
    assert got == {0: "v1", 1: "v2"}


def test_raw_chunk_handles_late_arrivals():
    """A chunk whose events precede the state buffer's tail (late
    data, or the 2nd Arrow chunk of a big group) must merge-sort
    before the searchsorted frame math — the pre-fix concat produced
    count=0 (division by zero) and evicted live state."""
    import numpy as np

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming.sliding_agg import _raw_chunk

    w = 600 * 1_000_000  # 10 min in us
    s = 1_000_000
    # buffer holds an event at t=1000s; the new chunk arrives LATE at
    # t=500s (inside the same window)
    buf_ts = np.array([1000 * s], dtype=np.int64)
    buf_cents = np.array([100], dtype=np.int64)
    new_ts = np.array([500 * s], dtype=np.int64)
    new_cents = np.array([200], dtype=np.int64)
    count, avg, kept_ts, kept_cents = _raw_chunk(
        buf_ts, buf_cents, new_ts, new_cents, w
    )
    # the late event's window [500s-10m, 500s] holds only itself
    assert count.tolist() == [1]
    assert avg.tolist() == [2.0]
    # eviction keys on the true max (1000s), so BOTH events stay live
    assert sorted(kept_ts.tolist()) == [500 * s, 1000 * s]
    assert sorted(kept_cents.tolist()) == [100, 200]

    # and an in-order chunk still sees the buffered event as a peer
    count2, avg2, _, _ = _raw_chunk(
        buf_ts, buf_cents,
        np.array([1100 * s], dtype=np.int64),
        np.array([300], dtype=np.int64),
        w,
    )
    assert count2.tolist() == [2]
    assert avg2.tolist() == [2.0]


def test_arrival_order_mode_replays_kda_rowtime_on_late_rows(spark, tmp_path):
    """order='arrival' vs order='event' must diverge EXACTLY as the
    module header documents: a late row (ts older than the key's max
    seen) windows on its own event time in event mode, but on the
    monotonized arrival axis ("now") in arrival mode — i.e. against the
    key's whole current buffer, the observable KDA ROWTIME behavior.
    In-order rows must be identical between the modes."""
    import json
    import os
    import time

    T0 = 1_700_000_000
    src = tmp_path / "late_mode"
    src.mkdir()
    f0 = [
        {"cc_num": 1, "merchant": "m", "amount": 10.0, "zip_code": 1,
         "trans_ts": float(T0)},
        {"cc_num": 1, "merchant": "m", "amount": 40.0, "zip_code": 1,
         "trans_ts": float(T0 + 30)},
    ]
    f1 = [  # LATE: event time between the two buffered rows
        {"cc_num": 1, "merchant": "m", "amount": 20.0, "zip_code": 1,
         "trans_ts": float(T0 + 10)},
    ]
    (src / "00.jsonl").write_text("\n".join(json.dumps(e) for e in f0))
    (src / "01.jsonl").write_text("\n".join(json.dumps(e) for e in f1))
    now = time.time()
    os.utime(src / "00.jsonl", (now, now))
    os.utime(src / "01.jsonl", (now + 60, now + 60))

    by_event = _run_stream_jsonl(
        spark, str(src), tmp_path, "s4_mode_event", order="event"
    )
    by_arrival = _run_stream_jsonl(
        spark, str(src), tmp_path, "s4_mode_arrival", order="arrival"
    )

    ts0 = dt.datetime.fromtimestamp(T0, dt.timezone.utc).replace(tzinfo=None)
    ts10 = dt.datetime.fromtimestamp(T0 + 10, dt.timezone.utc).replace(tzinfo=None)
    ts30 = dt.datetime.fromtimestamp(T0 + 30, dt.timezone.utc).replace(tzinfo=None)

    # event mode: the late row sees only its event-time past (T0 + itself)
    assert by_event == sorted(
        [(1, ts0, 1, 10.0), (1, ts30, 2, 25.0), (1, ts10, 2, 15.0)]
    )
    # arrival mode: the late row aggregates at ROWTIME=now -> all 3 rows
    assert by_arrival == sorted(
        [(1, ts0, 1, 10.0), (1, ts30, 2, 25.0), (1, ts10, 3, 70.0 / 3)]
    )
