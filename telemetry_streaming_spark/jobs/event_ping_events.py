"""EventPingEvents — flatten `event` pings to one row per
(ping x process x event).

Reference: EventPingEvents.scala:107-148 (EventRow), with the
SPARK-23251 workaround (extras stringified to map<string,string>)
falling out naturally from the typed event schema.  P29 + P3 + P28.

Scale shape: pure parse -> explode -> project; no shuffle at all
until the sink, which partitions the output by ``submission_date_s3``
in batch and streaming alike (K1/K2, EventPingEvents.scala:67-77).
Rows lacking documentId or clientId are dropped via the reference's
catch-all (meta.documentId.get throw — EventPingEvents.scala:128,
SURVEY §7.4 note 2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from telemetry_streaming_spark.functions import events as E
from telemetry_streaming_spark.functions import pings as P

ALLOWED_DOC_TYPES = ("event",)


def string_sample_id(sample_id):
    """Ping.scala:173-176 (bug 1507238): sampleId arrives as a JSON
    double; present it as the integer string."""
    return F.when(sample_id.isNotNull(), sample_id.cast("long").cast("string"))


def explode_events(raw: DataFrame) -> DataFrame:
    parsed = P.parse_pings(raw)
    ping = F.col("ping")
    meta = ping["meta"]
    payload = ping["payload"]

    rows = (
        parsed.where(meta["docType"].isin(*ALLOWED_DOC_TYPES))
        .where(meta["documentId"].isNotNull() & meta["clientId"].isNotNull())
        .select(
            meta["documentId"].alias("document_id"),
            meta["clientId"].alias("client_id"),
            meta["normalizedChannel"].alias("normalized_channel"),
            meta["geoCountry"].alias("country"),
            ping["environment"]["settings"]["locale"].alias("locale"),
            meta["appName"].alias("app_name"),
            meta["appVersion"].alias("app_version"),
            ping["environment"]["system"]["os"]["name"].alias("os"),
            P.normalized_os_version(ping["environment"]["system"]["os"]["version"]).alias(
                "os_version"
            ),
            payload["sessionId"].alias("session_id"),
            payload["subsessionId"].alias("subsession_id"),
            payload["processStartTimestamp"].alias("session_start_time"),
            (meta["Timestamp"] / F.lit(1e9)).cast("long").alias("timestamp"),
            string_sample_id(meta["sampleId"]).alias("sample_id"),
            E.experiments_map(ping).alias("experiments"),
            F.explode(E.event_ping_events(payload)).alias("pe"),
        )
    )
    ev = F.col("pe")["event"]
    return rows.select(
        "document_id",
        "client_id",
        "normalized_channel",
        "country",
        "locale",
        "app_name",
        "app_version",
        "os",
        "os_version",
        "session_id",
        "subsession_id",
        "session_start_time",
        "timestamp",
        "sample_id",
        "experiments",
        ev["timestamp"].cast("long").alias("event_timestamp"),
        ev["category"].alias("event_category"),
        ev["method"].alias("event_method"),
        ev["object"].alias("event_object"),
        ev["value"].alias("event_string_value"),
        ev["extra"].alias("event_map_values"),
        F.col("pe")["process"].alias("event_process"),
        P.timestamp_to_date_string(F.timestamp_seconds("timestamp")).alias("submission_date_s3"),
    )

