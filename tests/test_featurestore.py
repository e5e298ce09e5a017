from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from amazon_sagemaker_feature_store_streaming_aggregation_spark.featurestore import FeatureGroup
from amazon_sagemaker_feature_store_streaming_aggregation_spark.plans import run_batch_ingest
from amazon_sagemaker_feature_store_streaming_aggregation_spark.sources import load_transactions

from .conftest import SF0001


@pytest.fixture()
def fg(spark, tmp_path):
    return FeatureGroup(
        spark,
        "cc-agg-batch-fg",
        record_identifier_feature_name="cc_num",
        event_time_feature_name="trans_time",
        base_path=str(tmp_path),
        n_buckets=4,
    )


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "cc_num long, avg_amt double, trans_time timestamp"
    )


def test_upsert_keeps_latest_per_key(spark, fg):
    t0 = dt.datetime(2024, 1, 1)
    fg.upsert(
        _df(
            spark,
            [
                (1, 10.0, t0),
                (1, 20.0, t0 + dt.timedelta(hours=1)),  # newer wins
                (2, 5.0, t0),
            ],
        )
    )
    latest = {r["cc_num"]: r for r in fg.get_latest().collect()}
    assert len(latest) == 2
    assert latest[1]["avg_amt"] == 20.0
    assert latest[2]["avg_amt"] == 5.0


def test_second_upsert_overwrites_and_retains(spark, fg):
    t0 = dt.datetime(2024, 1, 1)
    fg.upsert(_df(spark, [(1, 10.0, t0), (2, 5.0, t0)]))
    fg.upsert(_df(spark, [(1, 99.0, t0 + dt.timedelta(days=1))]))
    latest = {r["cc_num"]: r["avg_amt"] for r in fg.get_latest().collect()}
    assert latest == {1: 99.0, 2: 5.0}


def test_get_record_point_lookup(spark, fg):
    t0 = dt.datetime(2024, 1, 1)
    fg.upsert(_df(spark, [(i, float(i) * 2, t0) for i in range(20)]))
    rec = fg.get_record(7)
    assert rec is not None and rec["avg_amt"] == 14.0
    assert fg.get_record(12345) is None


def test_event_time_stamped_when_missing(spark, fg):
    df = spark.createDataFrame([(1, 10.0)], "cc_num long, avg_amt double")
    fg.upsert(df)
    rec = fg.get_record(1)
    assert rec["trans_time"] is not None


def test_null_keys_skipped(spark, fg):
    df = spark.createDataFrame(
        [(None, 1.0, dt.datetime(2024, 1, 1)), (3, 2.0, dt.datetime(2024, 1, 1))],
        "cc_num long, avg_amt double, trans_time timestamp",
    )
    fg.upsert(df)
    assert fg.get_latest().count() == 1


def test_upsert_is_bucket_local(spark, fg):
    """A batch touching one key must rewrite ONLY that key's hash bucket
    (the scale property: per-trigger cost is O(touched buckets), not
    O(store))."""
    t0 = dt.datetime(2024, 1, 1)
    fg.upsert(_df(spark, [(i, float(i), t0) for i in range(40)]))  # all buckets
    before = {b: fg._bucket_version(b) for b in range(fg.n_buckets)}
    assert all(v == 1 for v in before.values())

    fg.upsert(_df(spark, [(7, 700.0, t0 + dt.timedelta(hours=1))]))
    after = {b: fg._bucket_version(b) for b in range(fg.n_buckets)}
    bumped = [b for b in after if after[b] != before[b]]
    assert len(bumped) == 1  # exactly the bucket key 7 hashes into
    latest = {r["cc_num"]: r["avg_amt"] for r in fg.get_latest().collect()}
    assert latest[7] == 700.0 and len(latest) == 40 and latest[11] == 11.0


def test_upsert_reconciles_incoming_types(spark, fg):
    t0 = dt.datetime(2024, 1, 1)
    fg.upsert(_df(spark, [(1, 10.0, t0)]))  # avg_amt: double
    # int-typed aggregate (createDataFrame inference) upcasts to double
    fg.upsert(
        spark.createDataFrame(
            [(1, 20, t0 + dt.timedelta(hours=1))],
            "cc_num long, avg_amt long, trans_time timestamp",
        )
    )
    assert fg.get_record(1)["avg_amt"] == 20.0
    # incompatible type fails fast with a clear error, store untouched
    with pytest.raises(TypeError, match="avg_amt"):
        fg.upsert(
            spark.createDataFrame(
                [(1, "oops", t0)], "cc_num long, avg_amt string, trans_time timestamp"
            )
        )
    assert fg.get_record(1)["avg_amt"] == 20.0


def test_run_batch_ingest_end_to_end(spark, tmp_path):
    fg = FeatureGroup(
        spark, "batch-fg", "cc_num", "trans_time", str(tmp_path), n_buckets=4
    )
    tx = load_transactions(spark, SF0001)
    agg = run_batch_ingest(tx, str(tmp_path / "csv_out"), fg)
    n_keys = tx.select("cc_num").distinct().count()
    # every key present in the store exactly once
    assert fg.get_latest().count() == n_keys
    # CSV golden output exists with a header
    import glob

    files = glob.glob(str(tmp_path / "csv_out" / "*.csv"))
    assert len(files) == 1
    with open(files[0]) as f:
        header = f.readline()
    assert header.startswith("tid,")
    # internal cent-sum columns must NOT leak into the golden CSV
    assert "sum_amt_cents" not in header
    assert agg.columns[-1] == "count_ratio"


def test_cli_driver_main(spark, tmp_path):
    """B15: the argparse job driver sequences B1->B14 end-to-end from a
    command line (reference batch_aggregation.py main,
    2_batch_ingestion.ipynb:245-252,345-358)."""
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.cli import main

    rc = main(
        [
            "--input", SF0001,
            "--input-format", "sf-parquet",
            "--csv-out", str(tmp_path / "agg_csv"),
            "--store-path", str(tmp_path / "store"),
            "--feature-group", "cli-fg",
            "--n-buckets", "4",
        ]
    )
    assert rc == 0
    import glob

    assert glob.glob(str(tmp_path / "agg_csv" / "*.csv"))
    fg = FeatureGroup(
        spark, "cli-fg", "cc_num", "trans_time", str(tmp_path / "store"), n_buckets=4
    )
    assert fg.get_latest().count() > 0


def test_concurrent_upserts_no_lost_update(spark, tmp_path):
    """Two writers racing on the SAME bucket must both land (optimistic
    per-bucket commit; the loser re-merges and retries) — the lost
    update the old last-writer-wins _VERSION flip allowed."""
    import threading

    from pyspark.sql import functions as F

    fg = FeatureGroup(
        spark,
        "race",
        record_identifier_feature_name="cc_num",
        event_time_feature_name="trans_time",
        base_path=str(tmp_path),
        n_buckets=2,
    )
    # 40 distinct keys across both buckets from each writer, disjoint
    # key ranges -> every row must survive if no update is lost.
    def writer(base):
        rows = [
            (base + i, float(base + i), "2024-01-01 00:00:00")
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "cc_num long, amount double, trans_time string"
        ).withColumn("trans_time", F.col("trans_time").cast("timestamp"))
        fg.upsert(df)

    errs = []

    def run(base):
        try:
            writer(base)
        except Exception as ex:  # surface thread failures in the assert
            errs.append(ex)

    t1 = threading.Thread(target=run, args=(1000,))
    t2 = threading.Thread(target=run, args=(2000,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    got = sorted(r["cc_num"] for r in fg.get_latest().collect())
    want = sorted(list(range(1000, 1040)) + list(range(2000, 2040)))
    assert got == want


def test_stale_claim_janitor_unblocks_crashed_commit(spark, fg):
    """A writer crashing between claiming the next version and flipping
    the pointer leaves an orphaned _commit_v* marker that blocks every
    later commit of that bucket; sweep_stale_claims removes it and the
    next upsert succeeds with no lost update."""
    import datetime as dt
    import os

    t0 = dt.datetime(2024, 1, 1)
    fg.upsert(_df(spark, [(1, 10.0, t0), (2, 5.0, t0)]))

    # Simulate the crash: orphan a claim for the NEXT version of every
    # live bucket (mkdir is exactly what the dying writer did).
    orphaned = 0
    for b in range(fg.n_buckets):
        v = fg._bucket_version(b)
        if v > 0:
            os.mkdir(os.path.join(fg._bucket_dir(b), f"_commit_v{v + 1}"))
            orphaned += 1
    assert orphaned > 0

    newer = _df(spark, [(1, 99.0, t0 + dt.timedelta(days=1))])
    with pytest.raises(RuntimeError, match="persistently racing"):
        fg.upsert(newer, max_retries=1)

    # A young claim is NOT swept (could be a live writer)...
    assert fg.sweep_stale_claims(max_age_s=3600) == 0
    # ...but with age 0 every orphan goes, and the upsert lands.
    assert fg.sweep_stale_claims(max_age_s=0) == orphaned
    fg.upsert(newer)
    latest = {r["cc_num"]: r["avg_amt"] for r in fg.get_latest().collect()}
    assert latest == {1: 99.0, 2: 5.0}


def test_snapshot_retention_keeps_prior_versions(spark, fg):
    """With snapshot_retention=3 (default), versions N-1 and N-2 must
    survive a commit of N: a racing writer (or a reader two commits
    behind) may still be lazily reading them."""
    import datetime as dt
    import os

    t0 = dt.datetime(2024, 1, 1)
    for i in range(4):  # same single key -> same bucket, versions 1..4
        fg.upsert(_df(spark, [(7, float(i), t0 + dt.timedelta(hours=i))]))
    (bucket,) = [b for b in range(fg.n_buckets) if fg._bucket_version(b) > 0]
    assert fg._bucket_version(bucket) == 4
    live = sorted(
        int(d[2:]) for d in os.listdir(fg._bucket_dir(bucket))
        if d.startswith("v=")
    )
    assert live == [2, 3, 4]  # current + 2 priors; v=1 retired


def test_schema_file_merges_concurrent_column_sets(spark, fg):
    """_SCHEMA.json is a field-union merge, not last-writer-wins: a
    writer that never saw column 'extra' must not erase it from the
    stored schema (later _reconcile would stop type-checking it)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    fg.upsert(
        spark.createDataFrame(
            [(1, 10.0, 5, t0)],
            "cc_num long, avg_amt double, extra int, trans_time timestamp",
        )
    )
    # Second writer's batch lacks 'extra' — the merged schema keeps it.
    fg.upsert(_df(spark, [(2, 20.0, t0)]))
    stored = fg._stored_schema()
    assert "extra" in [f.name for f in stored.fields]
    # and an int-typed 'extra' still upcasts against the stored long/int
    fg.upsert(
        spark.createDataFrame(
            [(3, 30.0, 9, t0)],
            "cc_num long, avg_amt double, extra int, trans_time timestamp",
        )
    )
    rows = {r["cc_num"]: r.asDict() for r in fg.get_latest().collect()}
    assert rows[3]["extra"] == 9 and rows[2]["extra"] is None


class TestChangeFeed:
    @pytest.fixture()
    def cdc_fg(self, spark, tmp_path):
        return FeatureGroup(
            spark,
            "cc-agg-cdc-fg",
            record_identifier_feature_name="cc_num",
            event_time_feature_name="trans_time",
            base_path=str(tmp_path),
            n_buckets=4,
            change_feed=True,
        )

    def test_insert_update_unchanged(self, spark, cdc_fg):
        t0 = dt.datetime(2024, 1, 1)
        t1 = t0 + dt.timedelta(days=1)
        cdc_fg.upsert(_df(spark, [(1, 10.0, t0), (2, 5.0, t0)]))
        # key 1 updated, key 3 new, key 2 re-sent IDENTICALLY (no change)
        cdc_fg.upsert(
            _df(spark, [(1, 99.0, t1), (3, 7.0, t1), (2, 5.0, t0)])
        )
        feed = cdc_fg.change_feed_df().collect()
        by_key: dict = {}
        for r in feed:
            by_key.setdefault(r["cc_num"], []).append(r)
        # versions are PER BUCKET: key 3's first commit is v=1 of ITS
        # bucket even though it arrived in the second upsert — assert
        # the op history per key, not a global batch number.
        assert sorted(r["_op"] for r in by_key[1]) == ["insert", "update"]
        assert [r["_op"] for r in by_key[2]] == ["insert"]  # unchanged
        assert [r["_op"] for r in by_key[3]] == ["insert"]  # resend: no row
        upd = [r for r in by_key[1] if r["_op"] == "update"]
        assert [r["avg_amt"] for r in upd] == [99.0]
        # the update commit is strictly newer than key 1's insert commit
        ins = [r for r in by_key[1] if r["_op"] == "insert"]
        assert upd[0]["_commit_version"] > ins[0]["_commit_version"]

    def test_since_filters_consumed_commits(self, spark, cdc_fg):
        t0 = dt.datetime(2024, 1, 1)
        cdc_fg.upsert(_df(spark, [(1, 10.0, t0)]))
        cdc_fg.upsert(_df(spark, [(1, 20.0, t0 + dt.timedelta(days=1))]))
        # consume everything up to each bucket's current version
        cur = {
            b: cdc_fg._bucket_version(b) for b in range(cdc_fg.n_buckets)
        }
        assert cdc_fg.change_feed_df(since=cur).count() == 0
        # a later commit reappears
        cdc_fg.upsert(_df(spark, [(1, 30.0, t0 + dt.timedelta(days=2))]))
        fresh = cdc_fg.change_feed_df(since=cur).collect()
        assert [(r["cc_num"], r["_op"], r["avg_amt"]) for r in fresh] == [
            (1, "update", 30.0)
        ]

    def test_snapshot_reads_ignore_change_log(self, spark, cdc_fg):
        t0 = dt.datetime(2024, 1, 1)
        cdc_fg.upsert(_df(spark, [(1, 10.0, t0), (2, 5.0, t0)]))
        cdc_fg.upsert(_df(spark, [(1, 99.0, t0 + dt.timedelta(days=1))]))
        latest = {r["cc_num"]: r["avg_amt"] for r in cdc_fg.get_latest().collect()}
        assert latest == {1: 99.0, 2: 5.0}
        assert "_op" not in cdc_fg.get_latest().columns

    def test_disabled_store_raises(self, spark, fg):
        with pytest.raises(RuntimeError):
            fg.change_feed_df()


def test_delete_removes_keys_and_point_lookups(spark, tmp_path):
    fg = FeatureGroup(
        spark, "fg_del", "cc_num", "trans_time",
        base_path=str(tmp_path), n_buckets=4,
    )
    rows = [(i, float(i), f"2024-01-01 00:00:{i:02d}") for i in range(10)]
    df = spark.createDataFrame(rows, ["cc_num", "amt", "trans_time"]).withColumn(
        "trans_time", F.col("trans_time").cast("timestamp")
    )
    fg.upsert(df)
    n = fg.delete([1, 3, 5, 99])  # 99 never existed
    assert n == 3
    left = {r.cc_num for r in fg.get_latest().collect()}
    assert left == {0, 2, 4, 6, 7, 8, 9}
    assert fg.get_record(3) is None
    assert fg.get_record(4) is not None


def test_delete_whole_bucket_then_reuse(spark, tmp_path):
    fg = FeatureGroup(
        spark, "fg_del_all", "cc_num", "trans_time",
        base_path=str(tmp_path), n_buckets=1,  # everything in one bucket
    )
    df = spark.createDataFrame(
        [(1, 1.0, "2024-01-01 00:00:00"), (2, 2.0, "2024-01-01 00:00:01")],
        ["cc_num", "amt", "trans_time"],
    ).withColumn("trans_time", F.col("trans_time").cast("timestamp"))
    fg.upsert(df)
    assert fg.delete([1, 2]) == 2
    # the zero-row snapshot still reads cleanly
    assert fg.get_latest().count() == 0
    # and the store stays writable after full erasure
    fg.upsert(df.where("cc_num = 1"))
    assert {r.cc_num for r in fg.get_latest().collect()} == {1}


def test_delete_emits_change_feed_deletes(spark, tmp_path):
    fg = FeatureGroup(
        spark, "fg_del_cdc", "cc_num", "trans_time",
        base_path=str(tmp_path), n_buckets=2, change_feed=True,
    )
    df = spark.createDataFrame(
        [(i, float(i), "2024-01-01 00:00:00") for i in range(4)],
        ["cc_num", "amt", "trans_time"],
    ).withColumn("trans_time", F.col("trans_time").cast("timestamp"))
    fg.upsert(df)
    assert fg.delete([0, 2]) == 2
    feed = fg.change_feed_df().collect()
    dels = {r.cc_num for r in feed if r._op == "delete"}
    assert dels == {0, 2}
    # deletes and the original inserts coexist in the feed history
    ins = {r.cc_num for r in feed if r._op == "insert"}
    assert ins == {0, 1, 2, 3}


def test_snapshot_at_time_travel(spark, tmp_path):
    fg = FeatureGroup(
        spark, "fg_tt", "cc_num", "trans_time",
        base_path=str(tmp_path), n_buckets=2,
    )

    def batch(amt):
        return spark.createDataFrame(
            [(i, amt, "2024-01-01 00:00:00") for i in range(4)],
            ["cc_num", "amt", "trans_time"],
        ).withColumn("trans_time", F.col("trans_time").cast("timestamp"))

    fg.upsert(batch(1.0))
    cursor = fg.version_map()
    fg.upsert(batch(2.0).withColumn(
        "trans_time", F.col("trans_time") + F.expr("INTERVAL 1 HOUR")
    ))
    # latest sees the update; the captured cursor still reads v1
    assert {r.amt for r in fg.get_latest().collect()} == {2.0}
    old = fg.snapshot_at(cursor)
    assert {r.amt for r in old.collect()} == {1.0}
    assert old.count() == 4


def test_snapshot_at_outside_retention_raises(spark, tmp_path):
    fg = FeatureGroup(
        spark, "fg_tt_ret", "cc_num", "trans_time",
        base_path=str(tmp_path), n_buckets=1, snapshot_retention=2,
    )

    def batch(amt, s):
        return spark.createDataFrame(
            [(1, amt, f"2024-01-01 00:00:{s:02d}")],
            ["cc_num", "amt", "trans_time"],
        ).withColumn("trans_time", F.col("trans_time").cast("timestamp"))

    fg.upsert(batch(1.0, 0))
    cursor = fg.version_map()  # v1
    fg.upsert(batch(2.0, 1))   # v2
    fg.upsert(batch(3.0, 2))   # v3 -> v1 retired (retention=2)
    with pytest.raises(ValueError, match="retention"):
        fg.snapshot_at(cursor)


def test_delete_of_absent_keys_burns_no_version(spark, tmp_path):
    fg = FeatureGroup(
        spark, "fg_del_noop", "cc_num", "trans_time",
        base_path=str(tmp_path), n_buckets=2,
    )
    df = spark.createDataFrame(
        [(i, float(i), "2024-01-01 00:00:00") for i in range(4)],
        ["cc_num", "amt", "trans_time"],
    ).withColumn("trans_time", F.col("trans_time").cast("timestamp"))
    fg.upsert(df)
    before = fg.version_map()
    assert fg.delete([1000, 2000]) == 0  # keys never stored
    # a no-op delete must not advance any bucket version
    assert fg.version_map() == before


def test_vacuum_completes_erasure(spark, tmp_path):
    import glob as _glob

    fg = FeatureGroup(
        spark, "fg_vac", "cc_num", "trans_time",
        base_path=str(tmp_path), n_buckets=1, change_feed=True,
    )
    df = spark.createDataFrame(
        [(1, 1.0, "2024-01-01 00:00:00"), (2, 2.0, "2024-01-01 00:00:00")],
        ["cc_num", "amt", "trans_time"],
    ).withColumn("trans_time", F.col("trans_time").cast("timestamp"))
    fg.upsert(df)
    fg.delete([1])
    # pre-vacuum: the erased record still lives in the prior snapshot
    pre = [
        r.cc_num
        for f in _glob.glob(str(tmp_path / "fg_vac/bucket=0/v=*/part-*.parquet"))
        for r in spark.read.parquet(f).collect()
    ]
    assert 1 in pre
    removed = fg.vacuum()
    assert removed >= 1
    # post-vacuum: no retained file anywhere holds key 1
    post = [
        r.cc_num
        for f in _glob.glob(str(tmp_path / "fg_vac/bucket=0/v=*/part-*.parquet"))
        for r in spark.read.parquet(f).collect()
    ]
    assert 1 not in post and 2 in post
    # the store still reads fine
    assert {r.cc_num for r in fg.get_latest().collect()} == {2}


def test_change_feed_stream_live_cdc(spark, tmp_path):
    """The streaming change-feed consumer sees commits that happen
    WHILE it runs — inserts from before the stream started and
    updates committed mid-stream both arrive as micro-batches."""
    import tempfile
    import time

    fg = FeatureGroup(
        spark, "fg_cdc_stream", "cc_num", "trans_time",
        base_path=str(tmp_path), n_buckets=2, change_feed=True,
    )

    def batch(amt):
        return spark.createDataFrame(
            [(i, amt, "2024-01-01 00:00:00") for i in range(4)],
            ["cc_num", "amt", "trans_time"],
        ).withColumn("trans_time", F.col("trans_time").cast("timestamp"))

    fg.upsert(batch(1.0))
    q = (
        fg.change_feed_stream()
        .writeStream.format("memory")
        .queryName("cdc_live")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql(
                "SELECT count(*) FROM cdc_live WHERE _op = 'insert'"
            ).first()[0] == 4:
                break
            time.sleep(0.25)
        fg.upsert(batch(2.0))  # committed while the stream runs
        while time.time() < deadline:
            if spark.sql(
                "SELECT count(*) FROM cdc_live WHERE _op = 'update'"
            ).first()[0] == 4:
                break
            time.sleep(0.25)
    finally:
        q.stop()
    ops = {
        r._op: r.n
        for r in spark.sql(
            "SELECT _op, count(*) n FROM cdc_live GROUP BY 1"
        ).collect()
    }
    assert ops == {"insert": 4, "update": 4}


def test_reconcile_rejects_lossy_downcasts(spark, tmp_path):
    """The stored-schema reconcile must raise on a narrowing cast
    (long value into an int column wraps silently in non-ANSI Spark)
    instead of corrupting feature values."""
    fg = FeatureGroup(
        spark, "narrow-fg", record_identifier_feature_name="k",
        event_time_feature_name="ts", base_path=str(tmp_path), n_buckets=2,
    )
    t0 = dt.datetime(2024, 1, 1)
    first = spark.createDataFrame(
        [(1, t0, 7)], "k long, ts timestamp, v int"
    )
    fg.upsert(first)
    widening = spark.createDataFrame(
        [(2, t0, 4294967301)], "k long, ts timestamp, v long"
    )
    with pytest.raises(TypeError, match="incompatible type"):
        fg.upsert(widening)
    # the widening DIRECTION (int value into a stored long column) is
    # still accepted
    fg2 = FeatureGroup(
        spark, "widen-fg", record_identifier_feature_name="k",
        event_time_feature_name="ts", base_path=str(tmp_path), n_buckets=2,
    )
    fg2.upsert(spark.createDataFrame([(1, t0, 7)], "k long, ts timestamp, v long"))
    fg2.upsert(spark.createDataFrame([(2, t0, 8)], "k long, ts timestamp, v int"))
    assert fg2.get_latest().count() == 2


def test_upcastable_decimal_capacity_rules():
    """Decimal destinations are upcast targets only with capacity:
    float->decimal always loses (rounding / NULL-on-overflow in
    non-ANSI Spark), long needs 19 integral digits, and a decimal
    source needs both its integral digits and its scale covered."""
    from pyspark.sql import types as T

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.featurestore.feature_group import (
        _upcastable,
    )

    assert not _upcastable(T.DoubleType(), T.DecimalType(38, 0))
    assert not _upcastable(T.FloatType(), T.DecimalType(38, 18))
    assert _upcastable(T.LongType(), T.DecimalType(19, 0))
    assert _upcastable(T.LongType(), T.DecimalType(38, 10))
    assert not _upcastable(T.LongType(), T.DecimalType(18, 0))
    assert not _upcastable(T.LongType(), T.DecimalType(20, 2))
    assert _upcastable(T.IntegerType(), T.DecimalType(10, 0))
    assert not _upcastable(T.IntegerType(), T.DecimalType(9, 0))
    assert _upcastable(T.DecimalType(10, 2), T.DecimalType(12, 2))
    assert _upcastable(T.DecimalType(10, 2), T.DecimalType(14, 4))
    assert not _upcastable(T.DecimalType(38, 10), T.DecimalType(5, 0))
    assert not _upcastable(T.DecimalType(10, 2), T.DecimalType(10, 4))


def test_reserved_column_names_rejected(spark, tmp_path):
    fg = FeatureGroup(
        spark, "reserved-fg", record_identifier_feature_name="k",
        event_time_feature_name="ts", base_path=str(tmp_path), n_buckets=2,
    )
    t0 = dt.datetime(2024, 1, 1)
    bad = spark.createDataFrame(
        [(1, t0, 5)], "k long, ts timestamp, __fg_bucket long"
    )
    with pytest.raises(ValueError, match="reserved"):
        fg.upsert(bad)


def test_change_feed_cursor_outside_retention_raises(spark, tmp_path):
    """A consumer cursor older than the oldest retained commit means
    change rows were retired unread — the feed must fail loudly, not
    return a silently gapped result."""
    fg = FeatureGroup(
        spark, "gap-fg", record_identifier_feature_name="k",
        event_time_feature_name="ts", base_path=str(tmp_path),
        n_buckets=1, snapshot_retention=1, change_feed=True,
    )
    t0 = dt.datetime(2024, 1, 1)
    for i in range(3):  # v=1..3 on the single bucket; retention keeps v=3
        fg.upsert(
            spark.createDataFrame(
                [(1, t0 + dt.timedelta(seconds=i), float(i))],
                "k long, ts timestamp, v double",
            )
        )
    with pytest.raises(ValueError, match="outside the retention window"):
        fg.change_feed_df(since={0: 1})  # v=2 already retired
    # a cursor still inside retention works
    rows = fg.change_feed_df(since={0: 2}).collect()
    assert {r["_commit_version"] for r in rows} == {3}


def _count_jobs(spark, fn):
    """(fn's result, the number of Spark jobs it ran), counted by a job
    group set on this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_reads_and_live_upsert_job_counts(spark, fg):
    """The per-trigger store work of the live loop has a fixed Spark-job
    cost: a point read is one scan job (the bucket is folded on the
    driver, the stored schema spares a footer job, no limit re-scan),
    building a snapshot frame runs none, and an upsert into a live
    store runs 4 (the touched-bucket collect and the merge write, each
    a shuffle-map job plus its result job). A schema-merging or
    inferring read, or routing the key through a ``range`` job, adds
    at least one."""
    t0 = dt.datetime(2024, 1, 1)
    fg.upsert(_df(spark, [(i, float(i), t0) for i in range(40)]))
    assert all(fg._bucket_version(b) == 1 for b in range(fg.n_buckets))

    rec, n = _count_jobs(spark, lambda: fg.get_record(7))
    assert rec["avg_amt"] == 7.0 and n == 1
    rec, n = _count_jobs(spark, lambda: fg.get_record(12345))
    assert rec is None and n == 1
    _, n = _count_jobs(spark, fg.get_latest)
    assert n == 0
    cursor = fg.version_map()
    _, n = _count_jobs(spark, lambda: fg.snapshot_at(cursor))
    assert n == 0

    later = _df(spark, [(i, float(i) + 1, t0 + dt.timedelta(hours=1)) for i in range(0, 40, 3)])
    _, n = _count_jobs(spark, lambda: fg.upsert(later))
    assert n == 4
    assert fg.get_record(3)["avg_amt"] == 4.0


def test_reads_fill_columns_missing_from_older_buckets(spark, fg):
    """A later upsert adds a column and touches one bucket, so the other
    buckets' files lack it. get_latest, get_record, snapshot_at and the
    next merge read it as NULL there: the rows a footer-merging
    (``mergeSchema``) read of the same snapshots gives. Without the
    stored schema a snapshot read raises."""
    import glob
    import os

    import pyarrow.parquet as pq

    def rows(df):
        return sorted((r.asDict() for r in df.collect()), key=lambda r: r["cc_num"])

    def footer_merged():
        return spark.read.option("mergeSchema", "true").parquet(*fg._live_snapshots())

    t0 = dt.datetime(2024, 1, 1)
    keys = list(range(12))
    fg.upsert(_df(spark, [(k, float(k), t0) for k in keys]))
    bucket_of = dict(
        spark.createDataFrame([(k,) for k in keys], "cc_num long")
        .select("cc_num", fg._bucket_expr())
        .collect()
    )
    wide = "cc_num long, avg_amt double, n_tx int, trans_time timestamp"
    fg.upsert(spark.createDataFrame([(5, 50.0, 3, t0 + dt.timedelta(hours=1))], wide))
    old = [k for k in keys if bucket_of[k] != bucket_of[5]]
    old_buckets = {bucket_of[k] for k in old}
    assert len(old_buckets) == fg.n_buckets - 1
    for b in old_buckets:
        files = glob.glob(
            os.path.join(fg._bucket_snapshot(b, fg._bucket_version(b)), "*.parquet")
        )
        assert files and all("n_tx" not in pq.read_schema(f).names for f in files)

    latest = rows(fg.get_latest())
    assert latest == rows(footer_merged())
    assert {r["cc_num"]: r["n_tx"] for r in latest} == {
        k: 3 if k == 5 else None for k in keys
    }
    assert rows(fg.snapshot_at(fg.version_map())) == latest
    k = old[0]
    assert fg.get_record(k) == {"cc_num": k, "avg_amt": float(k), "n_tx": None, "trans_time": t0}

    # the next merge into an old bucket keeps the column, NULL or set
    k2 = next(x for x in old if bucket_of[x] != bucket_of[k])
    fg.upsert(_df(spark, [(k, 99.0, t0 + dt.timedelta(hours=2))]))
    fg.upsert(spark.createDataFrame([(k2, 7.0, 8, t0 + dt.timedelta(hours=2))], wide))
    assert fg.get_record(k) == {
        "cc_num": k, "avg_amt": 99.0, "n_tx": None, "trans_time": t0 + dt.timedelta(hours=2)
    }
    assert fg.get_record(k2)["n_tx"] == 8
    latest = rows(fg.get_latest())
    assert latest == rows(footer_merged())
    assert len(latest) == len(keys)

    os.remove(fg._schema_file())
    with pytest.raises(ValueError, match="_SCHEMA.json is missing"):
        fg.get_latest()
