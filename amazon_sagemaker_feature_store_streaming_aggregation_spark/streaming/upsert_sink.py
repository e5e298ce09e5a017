"""Streaming feature-store upsert sink (reference U1-U3).

The reference wires KDA output through a Lambda that ``put_record``s
each row into the online store
(``src/lambda/StreamingIngestAggFeatures/lambda_function.py:25-32``),
relying on Kinesis acks for at-least-once delivery. Spark-natively this
is ``writeStream.foreachBatch``: each micro-batch is merged into the
FeatureGroup in one pass (the store's merge keeps the latest row per
key); the checkpoint directory supplies the restart/redelivery
guarantees the ack protocol provided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..featurestore import FeatureGroup


def start_stream_upsert(
    agg_stream: DataFrame,
    fg: FeatureGroup,
    checkpoint_dir: str,
    ts: str = "ts",
    available_now: bool = False,
) -> StreamingQuery:
    """Continuously upsert a keyed aggregate stream into ``fg``.

    Each micro-batch goes to :meth:`FeatureGroup.upsert` as it is, with
    ``ts`` renamed to the store's event-time column. The store's merge
    keeps the latest row per key with a deterministic all-columns
    tie-break, so the batch needs no reduction of its own, and an empty
    batch touches no bucket and leaves the store as it is.
    """

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        # persist: foreachBatch re-executes the batch plan PER ACTION,
        # and the upsert runs two (the touched-bucket collect and the
        # merge write) — without the cache an upstream stateful
        # aggregate would pay its shuffle + Python state work twice
        # every trigger.
        batch_df.persist()
        try:
            fg.upsert(batch_df.withColumnRenamed(ts, fg.event_time))
        finally:
            batch_df.unpersist()

    writer = (
        agg_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(upsert_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
