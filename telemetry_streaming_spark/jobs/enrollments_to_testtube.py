"""ExperimentEnrollmentsToTestTube — the 7-counter enrollment variant
serialized to TestTube JSON rows.

Reference: ExperimentEnrollmentsToTestTube.scala:88-125 — same
normandy-event extraction as the enrollments aggregator, grouped on
the same keys, with seven method counters (A2), then each row
serialized to JSON with ``object`` renamed to ``type`` and the window
bounds as epoch milliseconds.  The HTTP sink (K6) wraps each row as
{"enrollment": [...]} — sinks/http.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from telemetry_streaming_spark.jobs.experiment_enrollments import WINDOW_KEYS, enrollment_events
from telemetry_streaming_spark.streaming.core import window_aggregate

METHODS = {
    "enroll_count": "enroll",
    "unenroll_count": "unenroll",
    "graduate_count": "graduate",
    "update_count": "update",
    "enroll_failed_count": "enrollFailed",
    "unenroll_failed_count": "unenrollFailed",
    "update_failed_count": "updateFailed",
}


def aggregate(raw: DataFrame) -> DataFrame:
    return window_aggregate(
        enrollment_events(raw),
        WINDOW_KEYS,
        [F.count(F.when(F.col("method") == m, 1)).alias(alias) for alias, m in METHODS.items()],
    )


def to_json_rows(aggregated: DataFrame) -> DataFrame:
    """Row -> TestTube JSON: `object` renamed to `type`, window bounds
    as epoch ms (ExperimentEnrollmentsToTestTube.scala:111-123)."""
    return aggregated.select(
        F.to_json(
            F.struct(
                F.col("object").alias("type"),
                "experiment_id",
                "branch_id",
                "submission_date_s3",
                *[F.col(a) for a in METHODS],
                (F.col("window_start").cast("double") * 1000).cast("long").alias("window_start"),
                (F.col("window_end").cast("double") * 1000).cast("long").alias("window_end"),
            )
        ).alias("value")
    )
