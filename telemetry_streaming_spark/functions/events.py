"""Event reshaping — SURVEY §2.3 P3/P21/P22/P28.

Telemetry events arrive as positional JSON arrays
``[timestamp, category, method, object, value?, extra?]``
(Ping.scala:98-124).  ``from_json`` has already coerced each to
``array<string>`` (nested extra objects are captured as raw JSON
text), so the reshape is a pure ``transform`` into a named struct —
no UDF, fully codegen'd.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

EVENT_STRUCT_DDL = (
    "struct<timestamp: int, category: string, method: string, object: string, "
    "value: string, extra: map<string,string>>"
)

# Desktop processes carrying event arrays (moztelemetry Processes.names;
# test evidence: parent/content/extension/dynamic/gpu —
# ExperimentEnrollmentsAggregatorTest.scala:126-147)
PROCESS_NAMES = ("parent", "content", "extension", "dynamic", "gpu")


def reshape_event(e: Column) -> Column:
    """Positional array<string> -> named event struct (P3).  Fields 5
    and 6 are optional -> try_element_at yields null."""
    return F.struct(
        e[0].cast("int").alias("timestamp"),
        e[1].alias("category"),
        e[2].alias("method"),
        e[3].alias("object"),
        F.try_element_at(e, F.lit(5)).alias("value"),
        F.from_json(F.try_element_at(e, F.lit(6)), "map<string,string>").alias("extra"),
    )


def reshape_events(arr: Column) -> Column:
    """array<array<string>> -> array<event struct>; null input -> []."""
    empty = F.array().cast(f"array<{EVENT_STRUCT_DDL}>")
    return F.coalesce(F.transform(arr, reshape_event), empty)


def _tag_process(events: Column, process: str) -> Column:
    # closure factory, NOT a defaulted second lambda parameter:
    # F.transform passes (element, index) to two-argument lambdas.
    return F.transform(
        events, lambda ev: F.struct(F.lit(process).alias("process"), ev.alias("event"))
    )


def main_ping_events(payload: Column, processes: tuple[str, ...] = PROCESS_NAMES) -> Column:
    """Main pings: union of processes.<p>.events across process names,
    each event tagged with its process (MainPing.scala:215-217).
    Returns array<struct<process, event>>."""
    return F.concat(
        *[_tag_process(reshape_events(payload["processes"][p]["events"]), p) for p in processes]
    )


def event_ping_events(payload: Column, processes: tuple[str, ...] = PROCESS_NAMES) -> Column:
    """Event pings: payload.events[process] map (EventPing.scala:17-21)."""
    return F.concat(
        *[_tag_process(reshape_events(payload["events"][p]), p) for p in processes]
    )


def mobile_ping_events(payload: Column) -> Column:
    """Mobile pings (focus/rocket/firetv): top-level events array
    (FocusEvent.scala:98 et al.)."""
    return reshape_events(payload["mobileEvents"])


def experiments_map(ping: Column) -> Column:
    """P28: environment.experiments -> map<experiment_id, branch>
    (EventPing.scala:31-40)."""
    env = ping["environment"]
    return F.when(
        env["experiments"].isNotNull(),
        F.map_from_entries(
            F.transform(
                F.map_entries(env["experiments"]),
                lambda e: F.struct(e["key"].alias("key"), e["value"]["branch"].alias("value")),
            )
        ),
    )


def filter_events_by_category(events: Column, categories: tuple[str, ...]) -> Column:
    """P22: category allow-list over a process-tagged event array
    (``main_ping_events`` / ``event_ping_events``)."""
    return F.filter(events, lambda ev: ev["event"]["category"].isin(*categories))
