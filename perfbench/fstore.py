"""A ``FeatureGroup`` that records spans around its public calls.

The benchmark hands this subclass to the package wherever the package
takes a feature group (``start_stream_upsert``), so store calls made
inside a trigger are timed without touching the package. It overrides
only public methods and calls the parent's implementation unchanged.
"""

from __future__ import annotations

from amazon_sagemaker_feature_store_streaming_aggregation_spark.featurestore import (
    FeatureGroup,
)


class TracedFeatureGroup(FeatureGroup):
    def __init__(self, tracer, *args, upsert_span="featurestore.upsert", **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.upsert_span = upsert_span

    def upsert(self, df, max_retries: int = 5) -> None:
        if not self.tracer.enabled:
            return super().upsert(df, max_retries)
        before = self.version_map()
        with self.tracer.span(self.upsert_span) as sp:
            super().upsert(df, max_retries)
        after = self.version_map()
        sp["buckets"] = sum(1 for b, v in after.items() if before.get(b) != v)

    def get_record(self, identifier):
        with self.tracer.span("featurestore.get_record", key=identifier):
            return super().get_record(identifier)

    def get_latest(self):
        with self.tracer.span("featurestore.get_latest"):
            return super().get_latest()
