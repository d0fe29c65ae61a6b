"""ExperimentEnrollmentsAggregator — normandy enroll/unenroll counts
per (5-min window, object, experiment, branch).

Reference: ExperimentEnrollmentsAggregator.scala:103-160.  Input
docTypes: main + event.  Normandy events come from
``processes.dynamic.events`` for main pings (MainPing.scala:131-134)
and from all processes for event pings (EventPing.scala:42-48).
P23 projection + A2 conditional counts.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from telemetry_streaming_spark.functions import events as E
from telemetry_streaming_spark.functions import pings as P
from telemetry_streaming_spark.streaming.core import window_aggregate

ALLOWED_DOC_TYPES = ("main", "event")


def _normandy_events(ping) -> F.Column:
    meta = ping["meta"]
    payload = ping["payload"]
    main_events = E.main_ping_events(payload, processes=("dynamic",))
    event_events = E.event_ping_events(payload)
    events = F.when(meta["docType"] == "main", main_events).otherwise(event_events)
    return F.filter(events, lambda pe: pe["event"]["category"] == "normandy")


def enrollment_events(raw: DataFrame) -> DataFrame:
    """P23: one row per normandy event — (method, experiment_id=value,
    branch_id=extra['branch'], object, timestamp, submission_date)."""
    parsed = P.parse_pings(raw)
    ping = F.col("ping")
    meta = ping["meta"]
    ts = P.normalized_timestamp(meta)
    rows = (
        parsed.where(meta["docType"].isin(*ALLOWED_DOC_TYPES))
        .select(
            ts.alias("timestamp"),
            P.timestamp_to_date_string(ts).alias("submission_date_s3"),
            F.explode(_normandy_events(ping)).alias("pe"),
        )
    )
    ev = F.col("pe")["event"]
    return rows.select(
        ev["method"].alias("method"),
        ev["value"].alias("experiment_id"),
        ev["extra"]["branch"].alias("branch_id"),
        ev["object"].alias("object"),
        "timestamp",
        "submission_date_s3",
    )


WINDOW_KEYS = ("object", "experiment_id", "branch_id", "submission_date_s3")


def aggregate(raw: DataFrame) -> DataFrame:
    """A2: enroll/unenroll conditional counts
    (ExperimentEnrollmentsAggregator.scala:136-147)."""
    return window_aggregate(
        enrollment_events(raw),
        WINDOW_KEYS,
        [
            F.count(F.when(F.col("method") == "enroll", 1)).alias("enroll_count"),
            F.count(F.when(F.col("method") == "unenroll", 1)).alias("unenroll_count"),
        ],
    )
