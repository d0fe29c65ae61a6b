"""Ping schemas and schema utilities.

The reference assembles per-job schemas with a typed SchemaBuilder
(timeseries/package.scala:16-50) and navigates dynamic JSON payloads
with json4s.  Our engine is white-box instead: one superset
``StructType`` describes the ping envelope, ``from_json`` parses it
once per row (``functions/pings.guarded_parse``), and every accessor
is a column expression over the parsed struct.  The parse sits below
the ``parse_guard`` observation, so Catalyst neither copies it into
the jobs' filters nor prunes unused payload branches from it.

Envelope covers the doctypes the reference handles: main, crash,
core, event, focus-event/mobile-event, frecency-update
(Ping.scala:59-74 field lists; MainPing.scala:196-213,
CrashPing.scala:44-58, EventPing.scala:51-66, CorePing.scala,
FocusEvent.scala, FrecencyUpdatePing.scala).
"""

from __future__ import annotations

from pyspark.sql.types import StructType

# Positional telemetry event: [timestamp, category, method, object,
# value?, extra?] — parsed as array<string> (from_json captures the
# nested extra object as raw JSON text) and reshaped by
# functions/events.py (Ping.scala:98-124).
RAW_EVENT = "array<string>"

HISTOGRAM = "struct<values: map<string,bigint>, sum: bigint>"

META = f"""
    struct<
        Timestamp: bigint,
        docType: string,
        documentId: string,
        appName: string,
        appVersion: string,
        appBuildId: string,
        normalizedChannel: string,
        appUpdateChannel: string,
        clientId: string,
        sampleId: double,
        geoCountry: string,
        geoCity: string,
        submissionDate: string
    >
"""

ENVIRONMENT = """
    struct<
        build: struct<architecture: string, buildId: string, version: string,
                      displayVersion: string>,
        system: struct<os: struct<name: string, version: string>,
                       isWow64: boolean, memoryMB: double>,
        settings: struct<locale: string, isDefaultBrowser: boolean,
                         blocklistEnabled: boolean, telemetryEnabled: boolean,
                         attribution: struct<source: string>>,
        profile: struct<creationDate: bigint, resetDate: bigint>,
        addons: struct<activeExperiment: struct<id: string, branch: string>,
                       theme: struct<id: string>>,
        experiments: map<string, struct<branch: string>>
    >
"""

APPLICATION = """
    struct<architecture: string, buildId: string, channel: string, name: string,
           platformVersion: string, vendor: string, version: string,
           displayVersion: string, xpcomAbi: string>
"""

PAYLOAD = f"""
    struct<
        info: struct<subsessionLength: bigint, subsessionCounter: bigint,
                     sessionId: string, subsessionId: string,
                     sessionStartDate: string, sessionLength: bigint,
                     reason: string>,
        histograms: map<string, {HISTOGRAM}>,
        keyedHistograms: map<string, map<string, {HISTOGRAM}>>,
        simpleMeasurements: struct<activeTicks: bigint, firstPaint: bigint>,
        processes: map<string, struct<scalars: map<string,bigint>,
                                      events: array<{RAW_EVENT}>>>,

        crashDate: string,
        stackTraces: struct<
            crash_info: struct<crashing_thread: bigint, type: string,
                               address: string>,
            crash_type: string,
            threads: array<struct<frames: array<struct<
                function: string, module: string, module_offset: string,
                offset: string, ip: string>>>>>,
        processType: string,
        metadata: struct<StartupCrash: string, ipc_channel_error: string,
                         MozCrashReason: string, OOMAllocationSize: string,
                         ShutdownProgress: string>,

        arch: string,
        device: string,
        os: string,
        osversion: string,
        durations: bigint,
        seq: bigint,
        displayVersion: string,

        reason: string,
        processStartTimestamp: bigint,
        sessionId: string,
        subsessionId: string,
        lostEventsCount: bigint,
        events: map<string, array<{RAW_EVENT}>>,

        v: bigint,
        locale: string,
        created: bigint,
        settings: map<string,string>,
        mobileEvents: array<{RAW_EVENT}>,

        model_version: bigint,
        frecency_scores: array<double>,
        loss: double,
        update: array<double>,
        num_suggestions_displayed: bigint,
        rank_selected: bigint,
        bookmark_and_history_num_suggestions_displayed: bigint,
        bookmark_and_history_rank_selected: bigint,
        num_key_down_events_at_selecteds_first_entry: bigint,
        num_key_down_events: bigint,
        time_start_interaction: bigint,
        time_end_interaction: bigint,
        time_at_selecteds_first_entry: bigint,
        search_string_length: bigint,
        selected_style: string,
        selected_url_was_same_as_search_string: bigint,
        enter_was_pressed: bigint,
        study_variation: string,
        study_addon_version: string
    >
"""

PING_DDL = f"struct<meta: {META}, environment: {ENVIRONMENT}, application: {APPLICATION}, payload: {PAYLOAD}>"


def ping_schema() -> StructType:
    return StructType.fromDDL(PING_DDL)


# --- Output table schemas (FIXTURES.md §7) -------------------------------

ERROR_AGGREGATE_DIMENSIONS = [
    "submission_date_s3",
    "channel",
    "version",
    "display_version",
    "build_id",
    "application",
    "os_name",
    "os_version",
    "architecture",
    "country",
    "experiment_id",
    "experiment_branch",
]

ERROR_AGGREGATE_METRICS = [
    "usage_hours",
    "count",
    "main_crashes",
    "startup_crashes",
    "content_crashes",
    "gpu_crashes",
    "plugin_crashes",
    "gmplugin_crashes",
    "content_shutdown_crashes",
]

COUNT_HISTOGRAM_ERRORS = [
    "BROWSER_SHIM_USAGE_BLOCKED",
    "PERMISSIONS_SQL_CORRUPTED",
    "DEFECTIVE_PERMISSIONS_SQL_REMOVED",
    "SLOW_SCRIPT_NOTICE_COUNT",
    "SLOW_SCRIPT_PAGE_COUNT",
]

# ExperimentsErrorAggregator variant: dimension/metric subset
# (ExperimentsErrorAggregator.scala:16-39)
EXPERIMENT_ERROR_DIMENSIONS = [
    "submission_date_s3",
    "channel",
    "version",
    "os_name",
    "country",
    "experiment_id",
    "experiment_branch",
]
