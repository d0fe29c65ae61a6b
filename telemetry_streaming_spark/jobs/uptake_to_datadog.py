"""UptakeEventsToDatadog — normandy/uptake events to DogStatsD
metrics (P24; UptakeEventsToDatadog.scala:60-113).

Metric construction is columnar (a DataFrame of metric structs); the
datagram string and the UDP ForeachWriter live in
sinks/dogstatsd.py.  Main pings contribute normandy events only
(MainPing.scala:131-134); event pings contribute both normandy and
uptake.remotecontent.result (EventPing.scala:42-48).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from telemetry_streaming_spark.functions import events as E
from telemetry_streaming_spark.functions import pings as P

ALLOWED_DOC_TYPES = ("main", "event")
UPTAKE_CATEGORIES = ("normandy", "uptake.remotecontent.result")

METRIC_DDL = "struct<name: string, value: string, type: string, tags: map<string,string>>"


def _uptake_events(ping) -> Column:
    meta = ping["meta"]
    payload = ping["payload"]
    main_events = E.main_ping_events(payload, processes=("dynamic",))
    event_events = E.event_ping_events(payload)
    return F.when(
        meta["docType"] == "main", E.filter_events_by_category(main_events, ("normandy",))
    ).otherwise(E.filter_events_by_category(event_events, UPTAKE_CATEGORIES))


def metrics(raw: DataFrame):
    """One row per DogStatsD metric: counters for every event, timer
    metrics when extra.duration / extra.age parse as ints.

    Returns ``(df, counts)``: the plan carries the ``parse_guard``
    observation of undecodable envelopes, the only throw-path this job
    has (UptakeEventsToDatadog.scala:117-118; docType and
    event-category misses are intentional drops), and ``counts()``
    reads it after a batch action (``counts`` is ``None`` for
    streaming input — see ``functions/pings.guarded_parse``)."""
    pings, counts = P.guarded_parse(raw, P.undecodable())
    return _metrics_parsed(pings), counts


def _metrics_parsed(parsed: DataFrame) -> DataFrame:
    ping = F.col("ping")
    meta = ping["meta"]

    rows = (
        parsed.where(meta["docType"].isin(*ALLOWED_DOC_TYPES))
        .select(F.explode(_uptake_events(ping)).alias("pe"))
        .select(F.col("pe")["event"].alias("e"))
    )
    e = F.col("e")
    is_normandy = e["category"] == "normandy"

    normandy_name = F.concat_ws(
        ".", F.lit("telemetry"), e["category"], e["object"], e["method"]
    )
    normandy_tags = F.map_from_arrays(
        F.array(F.lit("experiment"), F.lit("branch")),
        F.array(
            F.coalesce(e["value"], F.lit("")),
            F.coalesce(e["extra"]["branch"], F.lit("")),
        ),
    )

    uptake_name = F.concat_ws(
        ".",
        F.lit("telemetry.uptake"),
        e["object"],
        e["method"],
        F.coalesce(e["value"], F.lit("null")),
    )
    source_parts = F.split(e["extra"]["source"], "/")
    # bug 1539249: tag uptake events with source type/subtype/details
    uptake_tags = F.map_filter(
        F.map_from_arrays(
            F.array(F.lit("source_type"), F.lit("source_subtype"), F.lit("source_details")),
            F.array(
                F.try_element_at(source_parts, F.lit(1)),
                F.try_element_at(source_parts, F.lit(2)),
                F.try_element_at(source_parts, F.lit(3)),
            ),
        ),
        lambda _, v: v.isNotNull(),
    )

    name = F.when(is_normandy, normandy_name).otherwise(uptake_name)
    tags = F.when(is_normandy, normandy_tags).otherwise(uptake_tags)

    counter = F.struct(
        name.alias("name"), F.lit("1").alias("value"), F.lit("c").alias("type"), tags.alias("tags")
    )

    def timer(extra_key: str) -> Column:
        # try_cast: the reference tolerates non-numeric durations
        # (Try(d.toInt).toOption); ANSI cast would throw
        v = e["extra"][extra_key].try_cast("int")
        return F.when(
            ~is_normandy & v.isNotNull(),
            F.struct(
                F.concat(uptake_name, F.lit(f".{extra_key}")).alias("name"),
                v.cast("string").alias("value"),
                F.lit("ms").alias("type"),
                tags.alias("tags"),
            ),
        )

    all_metrics = F.filter(
        F.array(counter, timer("duration"), timer("age")), lambda m: m.isNotNull()
    )
    return rows.select(F.explode(all_metrics).alias("m")).select(
        F.col("m")["name"].alias("name"),
        F.col("m")["value"].alias("value"),
        F.col("m")["type"].alias("type"),
        F.col("m")["tags"].alias("tags"),
    )
