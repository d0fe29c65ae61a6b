"""Columnar ping accessors — SURVEY §2.3's P-operators as Column
expressions.

The reference implements all of these inside opaque ``flatMap``
closures (Catalyst sees a black box, no codegen).  Here each is a
column expression over the parsed ping struct, so the whole
parse -> normalize -> filter -> project pipeline stays inside one
WholeStageCodegen stage.  Every job parses through
:func:`guarded_parse`: its observation keeps the job's filters above
the one ``from_json``, so each envelope is parsed once (the
reference's ``Ping.messageToPing``, Ping.scala:59-74).

Reference citations per function; "drop" semantics (throw-inside-
flatMap, ErrorAggregatorBase.scala:229-236) become explicit boolean
reject conditions composed by the jobs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from telemetry_streaming_spark.observability import (
    observation_counts,
    observe_counts,
    reject_counters,
)
from telemetry_streaming_spark.schemas import ping_schema

SECONDS_PER_HOUR = 3600


def parsed_pings_raw(raw: DataFrame) -> DataFrame:
    """The one ``from_json`` projection, WITHOUT the drop filter:
    columns ``(ping, __corrupt)`` where ``__corrupt`` carries the raw
    text of an undecodable envelope (PERMISSIVE
    columnNameOfCorruptRecord) and is null for well-formed rows.
    ``ping`` still holds its ``__corrupt`` field.

    A null-struct check is NOT enough: Spark's PERMISSIVE ``from_json``
    yields a struct of all-null FIELDS for malformed input, not a null
    struct, so only the corrupt-record column distinguishes
    'undecodable' from 'decoded but empty'."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(ping_schema().fields + [StructField("__corrupt", StringType())])
    ping = F.from_json(
        F.col("value").cast("string"),
        schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "__corrupt"},
    )
    return raw.select(ping.alias("ping")).withColumn("__corrupt", F.col("ping")["__corrupt"])


def undecodable() -> Column:
    """Over :func:`parsed_pings_raw` rows: the envelope did not decode."""
    return F.col("__corrupt").isNotNull() | F.col("ping").isNull()


def parse_pings(raw: DataFrame) -> DataFrame:
    """P1/P2: JSON envelope -> typed `ping` struct column.

    PERMISSIVE parity: malformed JSON is dropped (the reference drops
    undecodable messages, ErrorAggregatorBase:229-236) and counted by
    :func:`guarded_parse`."""
    return guarded_parse(raw, undecodable())[0]


def guarded_parse(raw: DataFrame, rejected: Column):
    """The ping parse with the ``parse_guard`` observation (``rows_seen``,
    ``rows_rejected``) attached before the drop filter; returns
    ``(pings, counts)``.  ``rejected`` is the job's flag over
    :func:`parsed_pings_raw` rows.  Catalyst pushes no filter below an
    observation, so a job's filters read the one parse instead of
    copying ``from_json``, and only kept rows lose ``__corrupt``.

    The reference lets parse exceptions propagate
    (ErrorAggregatorBase.scala:220); the engine's parse never throws,
    so the same rows are COUNTED in the same pass — no second scan.
    ``counts()`` returns them once a Dataset action on a plan built
    from ``pings`` has finished; on the empty-result path, where
    ``Observation.get`` cannot deliver (``observability.
    observation_counts``), it recounts in one scan of the parse stage.
    ``counts(observed=False)`` always recounts: an RDD job such as
    ``DataFrame.foreachPartition`` never completes the observation.
    Streaming input attaches by name and ``counts`` is ``None``; read
    ``QueryProgressEvent.observedMetrics["parse_guard"]``."""
    parsed = parsed_pings_raw(raw)
    counters = reject_counters(rejected)
    guarded, obs = observe_counts(parsed, "parse_guard", **counters)
    kept = guarded.where(~undecodable())
    pings = kept.select(F.col("ping").dropFields("__corrupt").alias("ping"))
    if obs is None:
        return pings, None

    def recount() -> dict:
        row = parsed.agg(*[c.alias(k) for k, c in counters.items()]).first()
        return {"rows_seen": row["rows_seen"], "rows_rejected": row["rows_rejected"] or 0}

    def counts(observed: bool = True) -> dict:
        return observation_counts(obs, recount) if observed else recount()

    return pings, counts


# --- P9: timestamp normalization (Ping.scala:169-171, StreamingJobBase:59-61)
def normalized_timestamp(meta: Column) -> Column:
    """Nanosecond ingest Timestamp -> TimestampType (ms precision kept
    via microsecond truncation)."""
    return F.timestamp_micros((meta["Timestamp"] / 1000).cast("long"))


def timestamp_to_date_string(ts: Column) -> Column:
    """UTC yyyyMMdd (StreamingJobBase.scala:59-61)."""
    return F.date_format(ts, "yyyyMMdd")


# --- P8: OS version normalization (Ping.scala:197-208)
def normalized_os_version(version: Column) -> Column:
    """Leading dotted-numeric prefix (up to 3 components), else null."""
    extracted = F.regexp_extract(version, r"^(\d+(\.\d+)?(\.\d+)?)", 1)
    return F.nullif(extracted, F.lit(""))


# --- P7: buildId 6-month normalization (Ping.scala:38-51)
def normalized_build_id(raw_build_id: Column, submission_date: Column) -> Column:
    """Keep buildId iff 0 <= ChronoUnit.MONTHS.between(buildDate,
    submissionDate) <= 6, else null.

    Truncating calendar-month arithmetic maps exactly to strict
    add_months bounds: m >= 0  <=>  sub > add_months(build, -1);
    m <= 6  <=>  sub < add_months(build, 7).  Unparseable build dates
    yield null (the reference throws -> ping dropped; jobs reject on
    null where the reference rejects)."""
    build_date = F.to_date(F.substring(raw_build_id, 1, 8), "yyyyMMdd")
    sub_date = F.to_date(submission_date, "yyyyMMdd")
    in_range = (sub_date > F.add_months(build_date, -1)) & (sub_date < F.add_months(build_date, 7))
    return F.when(build_date.isNotNull() & sub_date.isNotNull() & in_range, raw_build_id)


# --- P10: experiment fan-out (Ping.scala:247-260)
def experiments_array(ping: Column) -> Column:
    """Old-style activeExperiment + new-style experiments map + the
    (null, null) all-up slice, de-duplicated.  One array<struct<
    experiment_id, experiment_branch>> per ping, to be exploded."""
    env = ping["environment"]
    old_style = F.when(
        env["addons"]["activeExperiment"].isNotNull()
        & env["addons"]["activeExperiment"]["id"].isNotNull(),
        F.array(
            F.struct(
                env["addons"]["activeExperiment"]["id"].alias("experiment_id"),
                env["addons"]["activeExperiment"]["branch"].alias("experiment_branch"),
            )
        ),
    ).otherwise(F.array().cast("array<struct<experiment_id:string,experiment_branch:string>>"))
    new_style = F.when(
        env["experiments"].isNotNull(),
        F.transform(
            F.map_entries(env["experiments"]),
            lambda e: F.struct(
                e["key"].alias("experiment_id"), e["value"]["branch"].alias("experiment_branch")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<experiment_id:string,experiment_branch:string>>"))
    null_slice = F.array(
        F.struct(
            F.lit(None).cast("string").alias("experiment_id"),
            F.lit(None).cast("string").alias("experiment_branch"),
        )
    )
    return F.array_distinct(F.concat(new_style, old_style, null_slice))


def core_experiments_array(_: Column) -> Column:
    """Core pings always aggregate into the all-up slice only
    (CorePing.scala:19-22)."""
    return F.array(
        F.struct(
            F.lit(None).cast("string").alias("experiment_id"),
            F.lit(None).cast("string").alias("experiment_branch"),
        )
    )


# --- P5: crash subtype predicates (CrashPing.scala:27-41)
def is_main_crash(payload: Column) -> Column:
    return F.coalesce(payload["processType"], F.lit("main")) == "main"


def is_content_crash(payload: Column) -> Column:
    return payload["processType"] == "content"


def is_content_shutdown_crash(payload: Column) -> Column:
    # Option.contains semantics: absent metadata -> false, never null
    # (a raw null here would poison composed boolean metrics).
    return F.coalesce(
        payload["metadata"]["ipc_channel_error"] == "ShutDownKill", F.lit(False)
    )


def is_startup_crash(payload: Column) -> Column:
    return F.coalesce(payload["metadata"]["StartupCrash"], F.lit("0")) == "1"


# --- P6: Fennec OS fix-up (CrashPing.scala:17-25)
def crash_os_name(ping: Column) -> Column:
    reported = ping["environment"]["system"]["os"]["name"]
    return F.when(
        (ping["meta"]["appName"] == "Fennec") & (reported == "Linux"), F.lit("Android")
    ).otherwise(reported)


# --- P13: histogram accessors (MainPing.scala:21-69)
def count_histogram_value(payload: Column, name: str) -> Column:
    """histograms[name].values['0'] as int (null when absent)."""
    return payload["histograms"][name]["values"]["0"].cast("int")


def count_keyed_histogram_value(payload: Column, name: str, key: str) -> Column:
    return payload["keyedHistograms"][name][key]["values"]["0"].cast("int")


def scalar_value(payload: Column, process: str, name: str) -> Column:
    """processes[p].scalars[name] (MainPing.scala:64-69)."""
    return payload["processes"][process]["scalars"][name]


# --- P14: usage hours (MainPing.scala:71-82; CorePing.scala:34-39)
def main_usage_hours(payload: Column) -> Column:
    """subsessionLength seconds -> hours clamped to [0, 25]; absent ->
    null (job discards such main pings, ErrorAggregatorBase:60-62).
    Float cast mirrors the reference's FloatType metric."""
    length = payload["info"]["subsessionLength"]
    hours = length.cast("float") / F.lit(SECONDS_PER_HOUR)
    return F.when(
        length.isNotNull(),
        F.least(F.lit(25.0).cast("float"), F.greatest(F.lit(0.0).cast("float"), hours)),
    )


def core_usage_hours(payload: Column) -> Column:
    """durations/3600 — unclamped (CorePing.scala:34-39)."""
    return payload["durations"].cast("float") / F.lit(SECONDS_PER_HOUR)


# --- P15: search counts (MainPing.scala:84-101)
DIRECT_SEARCH_SOURCES = ("urlbar", "searchbar", "newtab", "abouthome", "contextmenu", "system")


def search_count(payload: Column) -> Column:
    """Sum of SEARCH_COUNTS[key].sum over keys whose 2nd dot-token is
    a direct search source; absent histogram -> 0."""
    entries = F.map_entries(payload["keyedHistograms"]["SEARCH_COUNTS"])
    hits = F.filter(
        entries,
        lambda e: F.try_element_at(F.split(e["key"], r"\."), F.lit(2)).isin(
            *DIRECT_SEARCH_SOURCES
        ),
    )
    total = F.aggregate(
        hits, F.lit(0).cast("bigint"), lambda acc, e: acc + F.coalesce(e["value"]["sum"], F.lit(0))
    )
    return F.coalesce(total, F.lit(0).cast("bigint"))


# --- P16: session accessors (MainPing.scala:107-189)
def active_ticks(payload: Column) -> Column:
    """Scalar browser.engagement.active_ticks preferred over the
    simpleMeasurement (bug 1482924, MainPing.scala:121-129)."""
    return F.coalesce(
        scalar_value(payload, "parent", "browser.engagement.active_ticks"),
        payload["simpleMeasurements"]["activeTicks"],
    )
