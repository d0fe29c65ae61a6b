"""ExperimentsErrorAggregator — the ErrorAggregator variant keyed by
experiment with the reduced dimension set and no histogram-error
metrics (ExperimentsErrorAggregator.scala:11-39; SURVEY Appendix A:
"8 dims, no histogram errors")."""

from __future__ import annotations

from pyspark.sql import DataFrame

from telemetry_streaming_spark.jobs import error_aggregator
from telemetry_streaming_spark.schemas import (
    ERROR_AGGREGATE_METRICS,
    EXPERIMENT_ERROR_DIMENSIONS,
)

# The reference's job extends ErrorAggregatorBase and overrides only the
# schema, so the base's aggregate() and writers take this as keyword args.
SHAPE = {"dimensions": EXPERIMENT_ERROR_DIMENSIONS, "stats": ERROR_AGGREGATE_METRICS}


def aggregate(raw: DataFrame):
    """``error_aggregator.aggregate`` over the reduced schema: returns
    ``(df, counts)``."""
    return error_aggregator.aggregate(raw, **SHAPE)
