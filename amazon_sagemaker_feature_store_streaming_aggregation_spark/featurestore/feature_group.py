"""Online feature store: keyed latest-record-per-key table.

Re-expression of the reference's SageMaker Feature Store usage as a
Spark-native keyed table:

* schema with a mandatory *record identifier* feature and *event time*
  feature — reference ``notebooks/schema/cc-agg-fg-schema.json:26-27``,
  creation API ``notebooks/1_setup.ipynb:263-270``;
* ``upsert`` = latest-record-per-key merge (the semantics of repeated
  ``put_record``, ``src/lambda/StreamingIngestAggFeatures/
  lambda_function.py:25-32``);
* point ``get_record`` by identifier — ``src/lambda/
  InvokeFraudEndpointLambda/lambda_function.py:262-277``.

Scale design (100 TB / 1000 executors)
--------------------------------------
The store is hash-bucketed on the record identifier with PER-BUCKET
snapshot versioning::

    <base>/<name>/bucket=B/v=K/part-*.parquet     (+ bucket=B/_VERSION)

* ``bucket = pmod(xxhash64(key), n_buckets)`` — a point lookup reads
  exactly one bucket's current snapshot directory; the upsert's
  latest-per-key window shuffles once on the key the data is already
  bucketed by.
* ``upsert`` is BUCKET-LOCAL: it reads, merges and rewrites only the
  buckets actually present in the incoming batch (one distributed job
  over the touched buckets, written ``partitionBy(bucket)`` then moved
  into place per bucket). A streaming micro-batch touching k keys costs
  O(k/n_buckets · store) — not O(store) — per trigger, so store size
  never multiplies per-batch cost at scale.
* Consistency is PER KEY: a key's records live entirely in one bucket,
  and each bucket's ``_VERSION`` pointer flips atomically after its new
  snapshot is fully written, so every key is always read at a complete
  snapshot. Cross-key reads spanning buckets may interleave two
  versions mid-upsert — the same (actually weaker-than) guarantee the
  reference's online store gives, where ``put_record`` is per-item with
  no cross-item isolation at all.
* The merge itself is a distributed window (``row_number() over
  (partition by key order by event_time desc) = 1``) — never a
  driver-side ``collect`` + RPC loop like the reference's batch ingest
  (``2_batch_ingestion.ipynb:311-343``). On a real deployment the same
  logic is a Delta/Iceberg ``MERGE INTO``; per-bucket snapshots keep
  this engine dependency-free.
* MULTI-WRITER: concurrent ``upsert`` calls are safe. Each bucket
  commit is optimistic — the merge records the snapshot version it
  read, claims the next version exclusively (atomic ``mkdir`` marker),
  re-checks under the claim, and flips the pointer; a losing writer
  re-merges just the conflicted buckets against the new snapshot and
  retries (the Delta/Iceberg optimistic-commit loop, applied per
  bucket so disjoint-bucket writers never conflict at all). Lost
  updates are designed out; see ``tests/test_featurestore.py``'s
  concurrent-writer test.

Incoming batches are type-reconciled against the stored schema before
the merge (numeric/timestamp upcasts are applied; anything else raises
``TypeError`` naming the column) — ``createDataFrame`` type inference
must not poison the store or crash mid-write. Every snapshot read uses
that stored schema (``_SCHEMA.json``, a superset of all committed
columns), so reads run no schema-inference job and a column missing
from a bucket reads as NULL.

The tie policy is ``row_number`` (exactly one row per key). The
reference's *batch* dedup uses ``dense_rank`` (keeps ties,
``2_batch_ingestion.ipynb:303-307``) — that operator lives in
``operators/latest_per_key.py``; a *store* must hold one record per
identifier (``put_record`` overwrite semantics), hence row_number with
a deterministic tie-break on all value columns.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_rows

_BUCKET = "__fg_bucket"

#: column names the store itself writes/overwrites during a merge,
#: delete, or change-feed commit — user features may not use them
#: (they would be silently clobbered or dropped).
_RESERVED_COLUMNS = {_BUCKET, "__rn", "_op", "__pk"}

#: substrings identifying "a captured snapshot was retired mid-job"
#: failures (retryable against re-resolved versions) — shared by the
#: upsert and delete commit rounds so both classify the race the
#: same way.
_RETIRED_SNAPSHOT_MARKERS = (
    "FileNotFound",
    "FILE_NOT_FOUND",
    "Path does not exist",
    "PATH_NOT_FOUND",
    # NOT the bare "does not exist": that substring also matches
    # deterministic failures (e.g. AnalysisException "Column ... does
    # not exist" from a schema mismatch), which would burn every retry
    # and surface as a misleading "buckets still conflicted" error
    # instead of the real cause. Only path/file-shaped forms qualify.
    "No such file or directory",
)


def _is_retired_snapshot_error(exc: Exception) -> bool:
    msg = str(exc)
    return any(s in msg for s in _RETIRED_SNAPSHOT_MARKERS)


_NUMERIC = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


#: widening rank within the integer and float families; a cast is an
#: UPCAST only when it cannot lose magnitude (int->int of wider rank,
#: int->float family, float->double, numeric->decimal, any->string,
#: date->timestamp). The symmetric "any numeric to any numeric" rule
#: this replaces silently DOWNCAST long->int (non-ANSI Spark wraps:
#: 4294967301 -> 5) and timestamp->date (truncates to midnight).
_INT_RANK = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 3, T.LongType: 4}
_FLOAT_RANK = {T.FloatType: 1, T.DoubleType: 2}


def _upcastable(src: T.DataType, dst: T.DataType) -> bool:
    if src == dst:
        return True
    if isinstance(dst, T.StringType):
        return True
    if isinstance(dst, T.DecimalType):
        # Capacity-checked: a decimal dst is an upcast only when it can
        # hold every value of src exactly. Integer sources need enough
        # integral digits (byte 3, short 5, int 10, long 19); a decimal
        # source needs both integral digits and scale covered. Float
        # sources are rejected outright — double->decimal(p,s) rounds
        # fractional values and an overflowing cast yields NULL in
        # non-ANSI Spark, both of which lose information silently.
        _INT_DIGITS = {T.ByteType: 3, T.ShortType: 5, T.IntegerType: 10, T.LongType: 19}
        need = _INT_DIGITS.get(type(src))
        if need is not None:
            return dst.precision - dst.scale >= need
        if isinstance(src, T.DecimalType):
            return (
                dst.scale >= src.scale
                and dst.precision - dst.scale >= src.precision - src.scale
            )
        return False
    si, di = _INT_RANK.get(type(src)), _INT_RANK.get(type(dst))
    if si is not None and di is not None:
        return si <= di
    sf, df_ = _FLOAT_RANK.get(type(src)), _FLOAT_RANK.get(type(dst))
    if sf is not None and df_ is not None:
        return sf <= df_
    if si is not None and df_ is not None:
        return True  # integer family -> float family (standard widening)
    if isinstance(src, T.DateType) and isinstance(dst, T.TimestampType):
        return True
    return False


class FeatureGroup:
    """A keyed latest-record-per-key feature table on parquet snapshots."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        record_identifier_feature_name: str,
        event_time_feature_name: str,
        base_path: str,
        n_buckets: int = 16,
        snapshot_retention: int = 3,
        change_feed: bool = False,
    ) -> None:
        self.spark = spark
        self.name = name
        self.key = record_identifier_feature_name
        self.event_time = event_time_feature_name
        self.path = os.path.join(base_path, name)
        self.n_buckets = n_buckets
        # Opt-in CDC: each commit also writes the rows it changed (the
        # after-images, tagged insert/update) under the new snapshot as
        # ``v=K/_changes/`` — the underscore prefix hides it from
        # snapshot reads, and living INSIDE the snapshot dir makes the
        # change log exactly as atomic and as retained as the commit
        # it describes. Read with :meth:`change_feed_df`.
        self.change_feed = change_feed
        # snapshots kept per bucket (current + N-1 priors). More than
        # one prior matters with 3+ racing writers: a commit of v=N+2
        # must not delete v=N while a slower writer's merge job is
        # still lazily reading it.
        self.snapshot_retention = max(1, snapshot_retention)
        os.makedirs(self.path, exist_ok=True)

    # ---------------------------------------------------------------- state
    def _bucket_expr(self):
        """THE bucket-routing expression — single definition: every
        write/read/delete path must hash identically or lookups and
        deletes route to the wrong bucket with no error."""
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets))

    def _bucket_dir(self, bucket: int) -> str:
        return os.path.join(self.path, f"bucket={bucket}")

    def _bucket_version(self, bucket: int) -> int:
        try:
            with open(os.path.join(self._bucket_dir(bucket), "_VERSION")) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _bucket_snapshot(self, bucket: int, version: int) -> str:
        return os.path.join(self._bucket_dir(bucket), f"v={version}")

    def _live_snapshots(self) -> list[str]:
        out = []
        for b in range(self.n_buckets):
            v = self._bucket_version(b)
            if v > 0:
                out.append(self._bucket_snapshot(b, v))
        return out

    def exists(self) -> bool:
        return bool(self._live_snapshots())

    # --------------------------------------------------------------- schema
    def _schema_file(self) -> str:
        return os.path.join(self.path, "_SCHEMA.json")

    def _stored_schema(self) -> T.StructType | None:
        try:
            with open(self._schema_file()) as f:
                return T.StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return None

    def _write_schema(self, schema: T.StructType) -> None:
        """Persist the store schema, MERGED with whatever is already on
        disk (union of fields, on-disk type wins for common names).

        Two racing writers with different column sets (allowMissingColumns
        merges) must not leave _SCHEMA.json missing a column that exists
        in committed data — last-writer-wins on the whole file would
        break later ``_reconcile`` upcasts for the dropped column.
        The read-merge-write runs UNDER an exclusive lock (the same
        atomic-mkdir claim primitive as bucket commits): without it two
        writers could both read the pre-race schema and the second
        write would erase the first's new column even though merging.
        """
        lock = os.path.join(self.path, "_SCHEMA.lock")
        stale_after = 30.0
        while True:
            try:
                os.mkdir(lock)
                break
            except FileExistsError:
                # Break only a lock whose OWN mtime age says the holder
                # crashed (same rule as sweep_stale_claims) — keying on
                # this waiter's elapsed time would, once past the
                # deadline, rmtree whatever lock exists, including one a
                # competing writer just acquired, reopening the exact
                # lost-column race the lock prevents.
                try:
                    age = time.time() - os.path.getmtime(lock)
                except OSError:
                    age = 0.0  # holder released between mkdir and stat
                if age > stale_after:
                    # Atomic rename-aside before removal: with a bare
                    # rmtree two waiters could both see the stale lock,
                    # the first break it and re-acquire, and the
                    # second's rmtree then delete the FIRST's fresh
                    # lock — two writers in the critical section. The
                    # rename either succeeds for exactly one breaker or
                    # raises (the lock is already gone / already moved).
                    broken = f"{lock}.broken.{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(lock, broken)
                    except OSError:
                        pass  # another waiter won the break race
                    else:
                        shutil.rmtree(broken, ignore_errors=True)
                time.sleep(0.02)
        try:
            stored = self._stored_schema()
            if stored is not None:
                have = {f.name for f in stored.fields}
                fields = list(stored.fields) + [
                    f for f in schema.fields if f.name not in have
                ]
                schema = T.StructType(fields)
            tmp = self._schema_file() + f".tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(schema.jsonValue(), f)
            os.replace(tmp, self._schema_file())
        finally:
            shutil.rmtree(lock, ignore_errors=True)

    def _read_snapshots(self, paths: list[str]) -> DataFrame:
        """Read bucket snapshot directories with the stored schema.

        ``_SCHEMA.json`` is a superset of every committed column:
        ``upsert`` writes it before any bucket commits and
        :meth:`_write_schema` only ever adds fields. So a bucket whose
        files lack a column (written before a later upsert added it)
        reads that column as NULL, and no schema-inference or
        footer-merge job runs. Resolve the snapshot versions BEFORE
        calling this: a version committed by a writer with a new
        column is then read with a schema that already holds it.
        """
        stored = self._stored_schema()
        if stored is None:
            raise ValueError(
                f"feature group {self.name!r}: snapshots exist but "
                "_SCHEMA.json is missing"
            )
        return self.spark.read.schema(stored).parquet(*paths)

    def _reconcile(self, df: DataFrame, stored: T.StructType) -> DataFrame:
        """Cast incoming columns to the stored column types (upcasts
        only); raise TypeError on an incompatible column instead of
        failing mid-write or silently nulling values."""
        for field in stored.fields:
            if field.name not in df.columns:
                continue
            src = df.schema[field.name].dataType
            if src == field.dataType:
                continue
            if not _upcastable(src, field.dataType):
                raise TypeError(
                    f"feature group {self.name!r}: column {field.name!r} has "
                    f"incompatible type {src.simpleString()} (store has "
                    f"{field.dataType.simpleString()})"
                )
            df = df.withColumn(field.name, F.col(field.name).cast(field.dataType))
        return df

    # ---------------------------------------------------------------- write
    def upsert(self, df: DataFrame, max_retries: int = 5) -> None:
        """Merge ``df`` into the store, keeping the latest record per key.

        Bucket-local: only the hash buckets present in ``df`` are read,
        merged and rewritten (see module docstring). Rows missing the
        event-time column are stamped with the current timestamp (the
        reference stamps ``trans_time = now()`` at ingest,
        ``StreamingIngestAggFeatures/lambda_function.py:29``).

        MULTI-WRITER SAFE via per-bucket optimistic concurrency: each
        bucket merge records the snapshot version it READ, and the
        commit claims the next version exclusively (``os.mkdir`` of a
        claim marker is atomic) and re-checks the version under the
        claim before flipping the pointer. A bucket whose version moved
        underneath the merge is NOT committed (no lost update); the
        conflicted buckets are re-merged against the new snapshot and
        retried — the same optimistic loop Delta/Iceberg run at the
        table level, here per bucket so disjoint-bucket writers never
        conflict at all.
        """
        reserved = _RESERVED_COLUMNS & set(df.columns)
        if reserved:
            raise ValueError(
                f"feature group {self.name!r}: column names "
                f"{sorted(reserved)} are reserved for store internals — "
                "rename them before upserting (they would be silently "
                "overwritten or dropped)"
            )
        if self.event_time not in df.columns:
            df = df.withColumn(self.event_time, F.current_timestamp())
        df = df.filter(F.col(self.key).isNotNull())

        stored = self._stored_schema()
        if stored is not None:
            df = self._reconcile(df, stored)

        df = df.withColumn(
            _BUCKET, self._bucket_expr()
        )
        touched = sorted(
            r[0] for r in df.select(_BUCKET).distinct().collect()
        )  # <= n_buckets small ints — driver-size by construction
        if not touched:
            return

        # Persist the (merged) schema BEFORE any bucket commits: every
        # snapshot read uses it (see _read_snapshots), so it must hold
        # each column a committed bucket holds, and a crash after the
        # commits must not leave live data without it. A merge reads
        # the stored schema, so it writes no column outside it.
        self._write_schema(
            T.StructType([f for f in df.schema.fields if f.name != _BUCKET])
        )

        remaining = touched
        for _attempt in range(max_retries + 1):
            if not remaining:
                break
            remaining = self._merge_commit_round(df, remaining)
        if remaining:
            raise RuntimeError(
                f"feature group {self.name!r}: buckets {remaining} still "
                f"conflicted after {max_retries} retries — a writer is "
                "persistently racing this one"
            )

    def delete(self, keys, max_retries: int = 5) -> int:
        """Remove every record for the given keys (right-to-be-forgotten
        / test-data cleanup) — the deletion counterpart of
        :meth:`upsert`, under the SAME per-bucket optimistic commit
        protocol, so deletes interleave safely with concurrent
        upserts of other keys. ``keys`` is a list of identifiers or a
        1-column DataFrame. Returns the number of records removed.

        Bucket-local like upsert: only the buckets that actually LOSE
        records are read, anti-joined and rewritten (deleting absent
        keys is a true no-op — no version burned). A bucket whose
        every record is deleted publishes a ZERO-ROW parquet snapshot
        (an empty directory would break the live-set parquet reads).
        With ``change_feed=True`` each commit emits key-only
        ``_op='delete'`` tombstones (never the erased payload) so
        consumers propagate the erasure downstream.

        Erasure scope: this removes the record from the CURRENT
        snapshot and all future reads; PRIOR retained snapshots (and
        the change-feed insert rows inside them) still hold the
        record until version churn retires them. For complete
        physical erasure (GDPR), follow with :meth:`vacuum` — the
        same two-step contract as Delta ``DELETE`` + ``VACUUM``.
        """
        stored = self._stored_schema()
        if stored is None:
            return 0
        key_type = stored[self.key].dataType
        if isinstance(keys, DataFrame):
            keys_df = keys.select(F.col(keys.columns[0]).cast(key_type).alias(self.key))
        else:
            keys_df = local_rows(
                self.spark,
                [(k,) for k in keys],
                T.StructType([T.StructField(self.key, key_type)]),
            )
        keys_df = (
            keys_df.where(F.col(self.key).isNotNull())
            .distinct()
            .withColumn(
                _BUCKET,
                self._bucket_expr(),
            )
        )
        touched = sorted(
            r[0]
            for r in keys_df.select(_BUCKET).distinct().collect()
            if self._bucket_version(r[0]) > 0
        )
        if not touched:
            return 0
        deleted = 0
        remaining = touched
        for _attempt in range(max_retries + 1):
            if not remaining:
                break
            remaining, n = self._delete_commit_round(keys_df, remaining)
            deleted += n
        if remaining:
            raise RuntimeError(
                f"feature group {self.name!r}: buckets {remaining} still "
                f"conflicted after {max_retries} delete retries"
            )
        return deleted

    def _delete_commit_round(
        self, keys_df: DataFrame, buckets: list[int]
    ) -> tuple[list[int], int]:
        """One optimistic delete round over ``buckets``; returns
        (conflicted buckets, records removed by the COMMITTED buckets
        — conflicted buckets re-count on retry, so nothing double-
        counts)."""
        read_vers = {b: self._bucket_version(b) for b in buckets}
        live = [b for b in buckets if read_vers[b] > 0]
        if not live:
            return [], 0
        paths = [self._bucket_snapshot(b, read_vers[b]) for b in live]
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex[:12]}")
        shutil.rmtree(staging, ignore_errors=True)
        existing = None
        try:
            existing = self._read_snapshots(paths).withColumn(
                _BUCKET, self._bucket_expr()
            )
            # three separate actions read this round's snapshot slice
            # (doomed count, kept write, tombstone write) — cache it
            # once instead of re-scanning per action
            existing.persist()
            part_keys = keys_df.where(
                F.col(_BUCKET).isin([int(b) for b in live])
            ).select(self.key)
            doomed = existing.join(
                F.broadcast(part_keys), on=self.key, how="left_semi"
            )
            doomed_per_bucket = {
                r[0]: r[1]
                for r in doomed.groupBy(_BUCKET).count().collect()
            }
            # only buckets that actually LOSE rows are rewritten — a
            # delete of absent keys must not burn a version (each
            # no-op commit would retire a retained snapshot and age
            # version_map/change-feed cursors for no change)
            hit = [b for b in live if doomed_per_bucket.get(b, 0) > 0]
            if not hit:
                return [], 0
            existing_hit = existing.where(
                F.col(_BUCKET).isin([int(b) for b in hit])
            )
            kept = existing_hit.join(
                F.broadcast(part_keys), on=self.key, how="left_anti"
            )
            kept.write.mode("overwrite").partitionBy(_BUCKET).parquet(staging)
            empty_schema = T.StructType(
                [f for f in existing.schema.fields if f.name != _BUCKET]
            )
            for b in hit:
                src = os.path.join(staging, f"{_BUCKET}={b}")
                if not os.path.isdir(src):
                    # all records of this bucket deleted: zero-row file
                    local_rows(self.spark, [], empty_schema).coalesce(
                        1
                    ).write.mode("overwrite").parquet(src)
            if self.change_feed:
                # tombstones carry ONLY key + event time — a deletion
                # change row must not re-publish the record payload it
                # exists to erase
                tombstones = (
                    doomed.where(F.col(_BUCKET).isin([int(b) for b in hit]))
                    .select(self.key, self.event_time, _BUCKET)
                    .withColumn("_op", F.lit("delete"))
                )
                ch_staging = staging + "_changes"
                shutil.rmtree(ch_staging, ignore_errors=True)
                try:
                    tombstones.write.mode("overwrite").partitionBy(
                        _BUCKET
                    ).parquet(ch_staging)
                    self._move_changes(staging, ch_staging)
                finally:
                    shutil.rmtree(ch_staging, ignore_errors=True)
        except Exception as exc:
            shutil.rmtree(staging, ignore_errors=True)
            if not _is_retired_snapshot_error(exc):
                raise
            return list(buckets), 0
        finally:
            if existing is not None:
                existing.unpersist()
        conflicted, removed = [], 0
        for b in hit:
            src = os.path.join(staging, f"{_BUCKET}={b}")
            if self._commit_bucket(b, read_vers[b], src):
                removed += int(doomed_per_bucket.get(b, 0))
            else:
                conflicted.append(b)
        shutil.rmtree(staging, ignore_errors=True)
        return conflicted, removed

    def _move_changes(self, staging: str, ch_staging: str) -> None:
        """Move each ``__fg_bucket=B`` dir of a staged change-row write
        into the matching staged snapshot dir as ``_changes/`` (shared
        by the upsert and delete rounds)."""
        for entry in os.listdir(ch_staging):
            if not entry.startswith(f"{_BUCKET}="):
                continue
            dst = os.path.join(staging, entry)
            if os.path.isdir(dst):
                os.rename(
                    os.path.join(ch_staging, entry),
                    os.path.join(dst, "_changes"),
                )

    def _merge_commit_round(self, df: DataFrame, buckets: list[int]) -> list[int]:
        """One optimistic round: merge ``buckets`` against their current
        snapshots, stage, try to commit each; return the conflicted
        buckets.

        The merge job reads the captured snapshot paths LAZILY — if a
        racing writer retires one mid-job (possible when it is more
        than ``snapshot_retention - 1`` commits ahead), the read fails;
        that failure is treated like a commit conflict (all buckets of
        this round retry against re-resolved versions) rather than
        aborting the upsert."""
        part = df.where(F.col(_BUCKET).isin([int(b) for b in buckets]))
        read_vers = {b: self._bucket_version(b) for b in buckets}
        existing_paths = [
            self._bucket_snapshot(b, v) for b, v in read_vers.items() if v > 0
        ]
        merged = part
        if existing_paths:
            # the stored schema carries every column any bucket holds,
            # so a column of another writer's batch is kept (NULL here)
            # in the merge and the rewrite, never dropped
            existing = self._read_snapshots(existing_paths).withColumn(
                _BUCKET, self._bucket_expr()
            )
            merged = existing.unionByName(part, allowMissingColumns=True)

        value_cols = [
            c
            for c in merged.columns
            if c not in (self.key, self.event_time, _BUCKET)
        ]
        w = Window.partitionBy(self.key).orderBy(
            F.col(self.event_time).desc(),
            *[F.col(c).desc_nulls_last() for c in value_cols],
        )
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

        # One distributed job over the touched buckets; outputs land per
        # bucket, then each bucket commits (or conflicts) independently.
        staging = os.path.join(
            self.path, f"_staging_{uuid.uuid4().hex[:12]}"
        )
        shutil.rmtree(staging, ignore_errors=True)
        try:
            latest.write.mode("overwrite").partitionBy(_BUCKET).parquet(staging)
        except Exception as exc:
            # A captured snapshot was retired while the job ran — retry
            # the whole round against freshly-resolved versions. Other
            # failures (bad data, disk) propagate: retrying can't fix
            # them and the conflict loop must not mask them.
            shutil.rmtree(staging, ignore_errors=True)
            if not _is_retired_snapshot_error(exc):
                raise
            return list(buckets)

        file_schema = T.StructType(
            [f for f in latest.schema.fields if f.name != _BUCKET]
        )
        if self.change_feed:
            try:
                # Re-read the just-written staging parquet as the
                # after-image side: reusing the `latest` lineage would
                # re-execute the whole merge shuffle a second time for
                # the change computation (measured: change_feed doubled
                # every commit round's cost). The partition column
                # comes back int — cast it to match the computed
                # bigint bucket on the prior side.
                latest_read = (
                    self.spark.read.schema(file_schema)
                    .parquet(staging)
                    .withColumn(_BUCKET, F.col(_BUCKET).cast("long"))
                    .select(*latest.columns)
                )
                self._stage_changes(
                    latest_read, existing if existing_paths else None, staging
                )
            except Exception as exc:
                shutil.rmtree(staging, ignore_errors=True)
                if not _is_retired_snapshot_error(exc):
                    raise
                return list(buckets)

        conflicted = []
        for b in buckets:
            src = os.path.join(staging, f"{_BUCKET}={b}")
            if not os.path.isdir(src):
                # every row of this bucket routed elsewhere when the
                # write job re-ran a nondeterministic lineage: publish
                # a ZERO-ROW parquet, never a bare directory — a bare
                # dir breaks every later read of the bucket (same rule
                # as the delete path)
                local_rows(self.spark, [], file_schema).coalesce(
                    1
                ).write.mode("overwrite").parquet(src)
            if not self._commit_bucket(b, read_vers[b], src):
                conflicted.append(b)
        shutil.rmtree(staging, ignore_errors=True)
        return conflicted

    def _stage_changes(
        self, latest: DataFrame, existing: DataFrame | None, staging: str
    ) -> None:
        """Compute this round's change rows (after-images that differ
        from the prior snapshot, tagged ``_op`` insert/update) and move
        them INTO each staged bucket dir as ``_changes/`` so the commit
        rename publishes snapshot and change log together.

        Cost: one ``exceptAll`` (a shuffle over the touched buckets'
        rows only — bucket-local like the merge itself) plus a key-set
        join for the op tag. Upsert-only stores have no deletes.
        """
        cols = latest.columns
        if existing is None:
            changes = latest.withColumn("_op", F.lit("insert"))
        else:
            prior = existing
            for f in latest.schema.fields:
                if f.name not in prior.columns:
                    prior = prior.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
            prior = prior.select(cols)
            after = latest.exceptAll(prior)
            prior_keys = prior.select(
                F.col(self.key).alias("__pk")
            ).distinct()
            changes = (
                after.join(
                    prior_keys,
                    after[self.key] == prior_keys["__pk"],
                    "left",
                )
                .withColumn(
                    "_op",
                    F.when(F.col("__pk").isNull(), F.lit("insert")).otherwise(
                        F.lit("update")
                    ),
                )
                .drop("__pk")
            )
        ch_staging = staging + "_changes"
        shutil.rmtree(ch_staging, ignore_errors=True)
        try:
            changes.write.mode("overwrite").partitionBy(_BUCKET).parquet(
                ch_staging
            )
            self._move_changes(staging, ch_staging)
        finally:
            shutil.rmtree(ch_staging, ignore_errors=True)

    def change_feed_stream(self) -> DataFrame:
        """The change feed as a STREAMING DataFrame (the Delta-CDF
        ``readChangeFeed`` shape): a ``readStream`` over the
        ``bucket=*/v=*/_changes`` directories, so every commit's
        change rows arrive as a new micro-batch while upserts/deletes
        keep running — the live consumer twin of the batch
        :meth:`change_feed_df`.

        Schema: the stored record schema plus ``_op`` (insert/update
        carry full after-images; delete tombstones carry key + event
        time with the value columns null). Requires
        ``change_feed=True`` and at least one committed write (the
        stored schema defines the stream schema).

        Retention contract (same as the batch feed): the file source
        must process a commit's ``_changes`` files before snapshot
        retirement (or :meth:`vacuum`) removes them — run the
        consumer continuously or size ``snapshot_retention`` to the
        consumer's maximum lag, exactly like table-format CDC readers
        bounded by VACUUM.
        """
        if not self.change_feed:
            raise ValueError(
                f"feature group {self.name!r} has change_feed=False"
            )
        stored = self._stored_schema()
        if stored is None:
            raise ValueError(
                f"feature group {self.name!r} has no committed schema yet"
            )
        schema = T.StructType(
            list(stored.fields) + [T.StructField("_op", T.StringType())]
        )
        return self.spark.readStream.schema(schema).parquet(
            os.path.join(self.path, "bucket=*", "v=*", "_changes")
        )

    def change_feed_df(self, since: dict[int, int] | None = None) -> DataFrame:
        """Read the change log: one row per inserted/updated record per
        commit, with ``_op`` and ``_commit_version`` columns, across
        every RETAINED snapshot (the feed shares the snapshot retention
        window — checkpoint consumers must poll within it, exactly like
        table-format CDC readers). ``since`` maps bucket -> last
        consumed version; only strictly newer commits are returned.

        Raises ``RuntimeError`` if the store was not created with
        ``change_feed=True``.
        """
        if not self.change_feed:
            raise RuntimeError(
                f"feature group '{self.name}' has no change feed enabled"
            )
        since = since or {}
        parts: list[DataFrame] = []
        for entry in sorted(os.listdir(self.path)):
            if not entry.startswith("bucket="):
                continue
            b = int(entry.split("=", 1)[1])
            bdir = os.path.join(self.path, entry)
            retained = sorted(
                int(s.split("=", 1)[1])
                for s in os.listdir(bdir)
                if s.startswith("v=")
            )
            # A cursor older than the oldest retained commit means
            # change rows were RETIRED unread — returning the surviving
            # tail would silently gap the feed and permanently diverge
            # any replica built from it. Fail loudly, like snapshot_at
            # does for the same out-of-retention condition.
            if b in since and retained and since[b] + 1 < retained[0]:
                raise ValueError(
                    f"feature group {self.name!r}: bucket {b} cursor "
                    f"{since[b]} is outside the retention window "
                    f"(oldest retained commit is v={retained[0]}) — "
                    "change rows were retired unread; rebuild the "
                    "consumer from a full snapshot"
                )
            for sub in sorted(os.listdir(bdir)):
                if not sub.startswith("v="):
                    continue
                v = int(sub.split("=", 1)[1])
                if v <= since.get(b, 0):
                    continue
                ch = os.path.join(bdir, sub, "_changes")
                if os.path.isdir(ch) and any(
                    f.endswith(".parquet") for f in os.listdir(ch)
                ):
                    parts.append(
                        self.spark.read.parquet(ch)
                        .withColumn("_bucket", F.lit(b))
                        .withColumn("_commit_version", F.lit(v))
                    )
        if not parts:
            stored = self._stored_schema() or T.StructType([])
            fields = list(stored.fields) + [
                T.StructField("_op", T.StringType()),
                T.StructField("_bucket", T.IntegerType()),
                T.StructField("_commit_version", T.IntegerType()),
            ]
            return local_rows(self.spark, [], T.StructType(fields))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def _commit_bucket(self, bucket: int, read_version: int, src: str) -> bool:
        """Atomically publish ``src`` as this bucket's next snapshot IF
        the bucket is still at ``read_version``. Returns False on
        conflict (another writer advanced the bucket first).

        Exclusivity: ``os.mkdir`` of the claim marker either succeeds
        for exactly one writer or raises — the claimant re-checks the
        version UNDER the claim (a competitor may have committed
        between the first check and the claim), then renames the
        snapshot in and flips ``_VERSION``. The marker is removed on
        exit either way; a crash inside the claim window leaves a
        marker that :meth:`sweep_stale_claims` removes by age (table
        formats solve the same problem with commit-log timestamps).
        """
        os.makedirs(self._bucket_dir(bucket), exist_ok=True)
        if self._bucket_version(bucket) != read_version:
            return False
        claim = os.path.join(
            self._bucket_dir(bucket), f"_commit_v{read_version + 1}"
        )
        try:
            os.mkdir(claim)
        except FileExistsError:
            return False
        try:
            if self._bucket_version(bucket) != read_version:
                return False
            nxt = self._bucket_snapshot(bucket, read_version + 1)
            shutil.rmtree(nxt, ignore_errors=True)  # we own the claim
            if os.path.isdir(src):
                os.rename(src, nxt)
            else:  # every key of this bucket vanished (can't happen via
                os.makedirs(nxt)  # upsert, but keep the flip total)
            vf = os.path.join(self._bucket_dir(bucket), "_VERSION")
            with open(vf + ".tmp", "w") as f:
                f.write(str(read_version + 1))
            os.replace(vf + ".tmp", vf)
            # Retire snapshots beyond the retention window (kept for
            # in-flight readers and racing writers' lazy merge reads).
            # Enumerate the LIVE v= dirs (like vacuum) rather than
            # probing every version number since v=1 — the probe loop
            # costs O(total historical versions) stat calls per commit,
            # growing forever on a long-lived streaming store.
            cutoff = read_version + 2 - self.snapshot_retention
            for entry in os.listdir(self._bucket_dir(bucket)):
                if not entry.startswith("v="):
                    continue
                try:
                    v = int(entry.split("=", 1)[1])
                except ValueError:
                    continue
                if v < cutoff:
                    shutil.rmtree(
                        os.path.join(self._bucket_dir(bucket), entry),
                        ignore_errors=True,
                    )
            return True
        finally:
            shutil.rmtree(claim, ignore_errors=True)

    def vacuum(self) -> int:
        """Retire every non-current snapshot immediately (including its
        embedded ``_changes/`` history). Returns the number of
        snapshot directories removed.

        This is the erasure COMPLETION step for :meth:`delete`: the
        delete commit removes a record from the CURRENT snapshot, but
        prior retained snapshots — and the change-feed insert rows
        inside them — still hold it until version churn retires them,
        which never happens on a cold bucket. ``vacuum`` forces that
        retirement, exactly like Delta's ``VACUUM`` after a GDPR
        delete. Run it quiesced or from the single writer that owns
        the store: it collapses the history concurrent readers'
        lazy merge reads and :meth:`snapshot_at` cursors depend on
        (their reads fail retryably, same as normal retention
        retirement — but vacuum makes that window immediate).
        """
        removed = 0
        for b in range(self.n_buckets):
            cur = self._bucket_version(b)
            if cur <= 0:
                continue
            bdir = self._bucket_dir(b)
            for entry in os.listdir(bdir):
                if not entry.startswith("v="):
                    continue
                try:
                    v = int(entry.split("=", 1)[1])
                except ValueError:
                    continue
                if v < cur:
                    shutil.rmtree(os.path.join(bdir, entry),
                                  ignore_errors=True)
                    removed += 1
        return removed

    def sweep_stale_claims(self, max_age_s: float = 3600.0) -> int:
        """Janitor for claim markers orphaned by a writer that CRASHED
        inside the commit window (between ``os.mkdir(claim)`` and its
        ``finally`` cleanup). An orphaned ``_commit_v{N+1}`` marker
        blocks every future commit of that bucket at version N — the
        optimistic loop reads it as a live competitor and retries until
        ``max_retries``, then raises.

        Removes claim markers older than ``max_age_s`` (mtime-based; a
        LIVE writer's claim exists only for the subsecond rename+flip
        window, so any sufficiently old marker is a crash remnant —
        same reasoning table formats apply via commit-log timestamps).
        Run it like any table janitor: periodically, or on the
        "persistently racing" RuntimeError. Returns markers removed.
        """
        removed = 0
        cutoff = time.time() - max_age_s
        for b in range(self.n_buckets):
            bdir = self._bucket_dir(b)
            if not os.path.isdir(bdir):
                continue
            for entry in os.listdir(bdir):
                if not entry.startswith("_commit_v"):
                    continue
                marker = os.path.join(bdir, entry)
                try:
                    if os.path.getmtime(marker) <= cutoff:
                        shutil.rmtree(marker, ignore_errors=True)
                        removed += 1
                except FileNotFoundError:
                    continue  # owner cleaned it up mid-scan
        return removed

    def put_record(self, record: dict) -> None:
        """Single-record upsert (reference ``put_record`` parity).

        Driver-side convenience only — at scale, batch ``upsert`` is the
        API; a per-record loop is the reference's anti-pattern. (Still
        bucket-local: touches exactly one bucket.)
        """
        stored = self._stored_schema()
        if stored is not None and set(record) == {f.name for f in stored.fields}:
            # Arrow LocalTableScan (local_rows): the inferred-schema
            # path below is a Python-pickled RDD whose WRITE re-spawns
            # a Python worker every call (~4 s per put_record)
            self.upsert(
                local_rows(
                    self.spark,
                    [tuple(record[f.name] for f in stored.fields)],
                    stored,
                )
            )
            return
        self.upsert(self.spark.createDataFrame([record]))

    # ----------------------------------------------------------------- read
    def get_latest(self) -> DataFrame:
        """The full latest-record-per-key table (one row per key).

        Read with the stored schema: bucket snapshots can carry
        different column sets (a later upsert added a column but
        touched only some buckets), and a column missing from a bucket
        reads as NULL. Building the frame runs no Spark job."""
        snaps = self._live_snapshots()
        if not snaps:
            raise ValueError(f"feature group {self.name!r} has no data")
        return self._read_snapshots(snaps)

    def version_map(self) -> dict[int, int]:
        """Current committed version per bucket — the cursor shape
        shared with :meth:`change_feed_df`'s ``since`` and
        :meth:`snapshot_at`. Capture it before a write to be able to
        read the pre-write state afterwards (within retention)."""
        return {
            b: v
            for b in range(self.n_buckets)
            if (v := self._bucket_version(b)) > 0
        }

    def snapshot_at(self, versions: dict[int, int]) -> DataFrame:
        """Time travel: read the store AS OF a captured
        :meth:`version_map` — each bucket at the version the cursor
        recorded (buckets absent from the cursor had no data then and
        are omitted). Works for any version still inside the
        ``snapshot_retention`` window; older versions raise, naming
        the bucket — the same contract as table-format
        ``VERSION AS OF`` reads, which retire history on VACUUM.
        The check runs at CALL time against the directory listing;
        the returned DataFrame reads lazily, so a version retired
        between this call and the action (a concurrent writer
        committing past retention, or :meth:`vacuum`) surfaces as the
        engine's FileNotFound on the action, not this ValueError —
        re-resolve and retry, as the merge path does.

        Together with :meth:`change_feed_df` this closes the
        reproducibility loop: capture the cursor when a training set
        is built, and the exact feature state that produced it stays
        readable while retention holds.
        """
        snaps = []
        for b, v in sorted(versions.items()):
            if v <= 0:
                continue
            p = self._bucket_snapshot(b, v)
            if not os.path.isdir(p):
                raise ValueError(
                    f"feature group {self.name!r}: bucket {b} version {v} "
                    f"is outside the retention window "
                    f"(retention={self.snapshot_retention})"
                )
            snaps.append(p)
        if not snaps:
            raise ValueError(
                f"feature group {self.name!r}: empty version cursor"
            )
        return self._read_snapshots(snaps)

    def get_record(self, identifier) -> dict | None:
        """Point lookup by record identifier (reference ``get_record``).

        Reads exactly one bucket's current snapshot directory; the key
        predicate pushes down into that bucket's parquet row groups. One
        Spark job: the bucket is computed by ``_bucket_expr`` over a
        one-row local frame, which Catalyst folds on the driver, and the
        stored schema spares the read a footer job. No ``limit``: the
        store holds one record per key, and a limit would scan again
        when the first partition misses.
        """
        stored = self._stored_schema()
        if stored is None:
            return None
        # xxhash64 is type-sensitive: the key must carry the stored key
        # type (an int literal hashes differently from a long key).
        key_type = stored[self.key].dataType
        probe = local_rows(self.spark, [(0,)], "one int").select(
            F.lit(identifier).cast(key_type).alias(self.key)
        )
        bucket = probe.select(self._bucket_expr()).collect()[0][0]
        v = self._bucket_version(bucket)
        if v == 0:
            return None
        rows = (
            self._read_snapshots([self._bucket_snapshot(bucket, v)])
            .filter(F.col(self.key) == identifier)
            .collect()
        )
        return rows[0].asDict() if rows else None
