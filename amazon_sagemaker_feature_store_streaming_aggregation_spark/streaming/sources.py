"""Streaming sources.

Reference S1 (``notebooks/1_setup.ipynb:487-510``): a Kinesis stream of
JSON transaction payloads ``{cc_num, merchant, amount, zip_code,
trans_ts}`` mapped to typed columns via JSONPath. The Spark-native
equivalent is ``spark.readStream`` + ``from_json`` with a declared
schema. Tests and replay use the *file* source (deterministic,
replayable — the 'rate' source is wall-clock-dependent); a production
deployment swaps in the kafka source with the same downstream plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Reference stream payload schema (``4_streaming_predictions.ipynb:188-202``).
STREAM_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("cc_num", T.LongType(), True),
        T.StructField("merchant", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("zip_code", T.IntegerType(), True),
        T.StructField("trans_ts", T.DoubleType(), True),  # epoch seconds
    ]
)


def _project_event_json(raw: DataFrame) -> DataFrame:
    """``value`` text -> ``from_json`` (the Spark analogue of KDA's
    RecordColumns JSONPath mapping) -> typed columns + ``ts`` timestamp
    derived from the payload's epoch-seconds ``trans_ts``."""
    return (
        raw.select(F.from_json(F.col("value"), STREAM_EVENT_SCHEMA).alias("j"))
        .select("j.*")
        .withColumn("ts", F.timestamp_seconds(F.col("trans_ts")))
    )


def _throttle(reader, max_files_per_trigger: int | None):
    """Apply the per-trigger file cap. ``is not None`` (not truthiness):
    a caller-computed 0 must be rejected loudly, not silently ignored —
    an unthrottled stream is the OPPOSITE of what that caller asked
    for."""
    if max_files_per_trigger is None:
        return reader
    if max_files_per_trigger <= 0:
        raise ValueError(
            f"max_files_per_trigger must be >= 1, got {max_files_per_trigger}"
        )
    return reader.option("maxFilesPerTrigger", max_files_per_trigger)


def _text_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None
) -> DataFrame:
    reader = _throttle(spark.readStream.format("text"), max_files_per_trigger)
    return reader.load(path)


def read_json_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S1: stream of JSON lines -> typed columns + event-time timestamp."""
    return _project_event_json(_text_stream(spark, path, max_files_per_trigger))


def read_base64_json_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """U1 wire-format parity: one base64-encoded JSON record per line.

    The reference Lambda base64-decodes every Kinesis record before
    ``json.loads`` (``src/lambda/StreamingIngestAggFeatures/
    lambda_function.py:41-48``) — this is the same decode leg as a
    scan-side column expression (``unbase64`` is JVM codegen, no UDF).
    """
    raw = _text_stream(spark, path, max_files_per_trigger)
    # try_to_binary, NOT unbase64: unbase64 THROWS on a malformed line
    # (verified on this Spark build), and one corrupt record — exactly
    # the noise an at-least-once transport produces — would poison its
    # micro-batch forever (every retry replays the same batch).
    # Undecodable lines are DROPPED at the source (the reference
    # Lambda's skip-bad-record policy); decodable-but-invalid JSON
    # still surfaces as a null-struct row, same as the plain JSON
    # source, for downstream filters to handle.
    decoded = raw.select(
        F.try_to_binary(F.col("value"), F.lit("base64"))
        .cast("string")
        .alias("value")
    ).where(F.col("value").isNotNull())
    return _project_event_json(decoded)


def kafka_value_projection(raw: DataFrame) -> DataFrame:
    """Kafka wire rows -> typed event columns.

    Kafka delivers ``value: binary`` (plus key/topic/partition/offset
    metadata); the payload is the same JSON the reference puts on its
    Kinesis stream. Cast + ``from_json`` + event-time derivation — all
    scan-side JVM expressions, shared with the file sources."""
    return _project_event_json(
        raw.select(F.col("value").cast("string").alias("value"))
    )


def drop_stale_records(
    events: DataFrame,
    ts_col: str = "ts",
    max_age_s: int = 600,
    now=None,
) -> DataFrame:
    """I1: ``MaximumRecordAgeInSeconds=600`` parity — drop records older
    than ``max_age_s`` at consume time.

    The reference configures its event-source mapping to retire records
    that aged past 600 s without being processed
    (``notebooks/1_setup.ipynb:434-441``), so a restart/backfill never
    floods the model with ancient transactions. ``now`` defaults to the
    processing-time clock (``current_timestamp()``, evaluated once per
    micro-batch — the Spark analogue of Kinesis record age); pass a
    fixed timestamp for deterministic replay and tests.
    """
    now_col = (
        F.current_timestamp() if now is None else F.lit(now).cast("timestamp")
    )
    age = F.unix_timestamp(now_col) - F.unix_timestamp(F.col(ts_col))
    return events.filter(age <= F.lit(max_age_s))


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet-file stream with a declared schema (replay of a table).

    Normalizes the event-time column like the batch loader does, so
    downstream operators always see a session-zoned ``timestamp``:
    TIMESTAMP(MICROS) files declare ``ts timestamp_ntz`` (cast to the
    UTC session zone); legacy TIMESTAMP(NANOS) files surface as long
    nanos under ``nanosAsLong`` and are truncated to micros.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = _throttle(spark.readStream.schema(schema), max_files_per_trigger)
    df = reader.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":  # nanosAsLong: raw nanos -> micros
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
