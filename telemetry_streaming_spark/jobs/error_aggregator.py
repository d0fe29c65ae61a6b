"""ErrorAggregator — the reference's flagship job, re-expressed as a
declarative DataFrame pipeline.

Reference: ErrorAggregatorBase.scala (+ ErrorAggregator.scala
schemas).  Dataflow parity:

  binary/JSON value
    -> parse (P1/P2, from_json)
    -> allow-list + reject rules (P4; throw-in-flatMap becomes filters)
    -> per-doctype dimensions (P6/P7/P8/P9/P11) and metrics (P5/P12/P13/P14)
    -> experiment fan-out (P10, explode)
    -> 5-min windowed multi-sum (A1) with 1-min watermark in streaming

Where the reference's opaque flatMap forces a serialize/deserialize
boundary (no codegen, no pruning — ErrorAggregatorBase.scala:223-236),
this plan is columnar end-to-end: the doctype/appName filters read
the one parsed ping above the ``parse_guard`` observation, and the
whole parse->filter->project->explode stage fuses into one
WholeStageCodegen span before the aggregation exchange.

At 100TB: the only shuffle is the groupBy exchange on (window, dims);
map-side partial aggregation bounds it to O(windows x dim-cardinality)
per task.  Dimensions are low-cardinality (SURVEY §4.2), so no skew
handling is required; AQE coalesces the post-shuffle partitions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from telemetry_streaming_spark.functions import pings as P
from telemetry_streaming_spark.schemas import COUNT_HISTOGRAM_ERRORS
from telemetry_streaming_spark.sinks import write_files
from telemetry_streaming_spark.streaming.core import window_aggregate

ALLOWED_DOC_TYPES = ("main", "crash", "core")
ALLOWED_APP_NAMES = ("Firefox", "Fennec")
CORE_ALLOWED_OSES = ("Android",)
DISALLOWED_CHANNELS = ("Other",)


def _int_when(cond: Column) -> Column:
    return F.when(cond, F.lit(1)).cast("int")


def _validity() -> tuple[Column, Column, Column, Column, Column]:
    """``(allowed, rejected, build_id, main_crash, content_crash)``: the
    P4 flags plus the columns they are built from that ``prepare()``
    also projects, so each expression is built once."""
    ping = F.col("ping")
    meta = ping["meta"]
    payload = ping["payload"]
    env = ping["environment"]
    doc_type = meta["docType"]
    is_main = doc_type == "main"
    is_crash = doc_type == "crash"
    is_core = doc_type == "core"
    allowed = (
        doc_type.isin(*ALLOWED_DOC_TYPES)
        & meta["appName"].isin(*ALLOWED_APP_NAMES)
        & ~F.coalesce(meta["normalizedChannel"], F.lit("")).isin(*DISALLOWED_CHANNELS)
    )
    # per-doctype raw buildId (main/crash: environment.build via meta;
    # core: appBuildId — CorePing.scala:56)
    raw_build_id = F.when(is_core, meta["appBuildId"]).otherwise(env["build"]["buildId"])
    build_id = P.normalized_build_id(raw_build_id, meta["submissionDate"])
    # crash predicates (P5)
    main_crash = P.is_main_crash(payload)
    content_crash = P.is_content_crash(payload)
    rejected = (
        (is_crash & ~(main_crash | content_crash))  # non main/content crash
        | (is_main & P.main_usage_hours(payload).isNull())  # main without usage
        | (is_core & ~payload["os"].isin(*CORE_ALLOWED_OSES))  # core non-Android
        | build_id.isNull()  # empty normalized buildId (all doctypes)
    )
    return allowed, rejected, build_id, main_crash, content_crash


def validity_flags() -> tuple[Column, Column]:
    """``(allowed, rejected)`` over parsed-ping rows.

    ``allowed`` is the P4 allow-list (intentional filtering —
    ErrorAggregatorBase.scala:89-129); ``rejected`` re-expresses the
    reference's throw-paths in parsePing/parse as a boolean (the rows
    raiseOnError would have crashed on)."""
    return _validity()[:2]


def parse_failure() -> Column:
    """The rows the ``parse_guard`` observation counts as rejected,
    evaluated over the PRE-drop parse output
    (functions/pings.parsed_pings_raw): undecodable JSON, or a reject
    rule tripped on an allow-listed ping.  Allow-list misses are
    intentional filtering in the reference too, so they never count."""
    allowed, rejected = validity_flags()
    # NULL counts as rejected: a NULL reject rule (e.g. core ping
    # with payload.os null) makes prepare()'s `allowed & ~rejected`
    # filter NULL -> the row is DROPPED, so the flag must count it
    # too or --raise-on-error exits 0 on silently-dropped input.
    return P.undecodable() | (
        F.coalesce(allowed, F.lit(False)) & F.coalesce(rejected, F.lit(True))
    )


def prepare(parsed: DataFrame) -> DataFrame:
    """Parsed pings -> pre-aggregation rows (one per ping x experiment
    slice) with dimension + metric columns.  Pure projection/filter/
    explode — shared by batch and streaming."""
    ping = F.col("ping")
    meta = ping["meta"]
    payload = ping["payload"]
    env = ping["environment"]

    doc_type = meta["docType"]
    is_main = doc_type == "main"
    is_crash = doc_type == "crash"
    is_core = doc_type == "core"

    # --- P4 allow-lists + reject rules (shared with parse_failure),
    # normalized buildId and crash predicates (P5) ---
    allowed, rejected, build_id, main_crash, content_crash = _validity()
    content_shutdown = P.is_content_shutdown_crash(payload)

    usage_hours = F.when(is_main, P.main_usage_hours(payload)).when(
        is_core, P.core_usage_hours(payload)
    )

    # --- dimensions (P11, buildDimensions ErrorAggregatorBase:258-280) ---
    ts = P.normalized_timestamp(meta)
    os_name = F.when(is_crash, P.crash_os_name(ping)).when(
        is_core, payload["os"]
    ).otherwise(env["system"]["os"]["name"])
    os_version_raw = F.when(is_core, payload["osversion"]).otherwise(
        env["system"]["os"]["version"]
    )
    version = F.when(is_core, meta["appVersion"]).otherwise(env["build"]["version"])
    display_version = F.when(is_core, F.coalesce(payload["displayVersion"], meta["appVersion"])).otherwise(
        env["build"]["displayVersion"]
    )
    architecture = F.when(is_core, payload["arch"]).otherwise(env["build"]["architecture"])

    # --- metrics (P12, parse() overloads ErrorAggregatorBase:32-87) ---
    crash_hist = lambda key: F.when(  # noqa: E731
        is_main, P.count_keyed_histogram_value(payload, "SUBPROCESS_CRASHES_WITH_DUMP", key)
    )
    metrics = [
        usage_hours.alias("usage_hours"),
        F.lit(1).cast("int").alias("count"),
        _int_when(is_crash & main_crash).alias("main_crashes"),
        _int_when(is_crash & main_crash & P.is_startup_crash(payload)).alias("startup_crashes"),
        _int_when(is_crash & content_crash & ~content_shutdown).alias("content_crashes"),
        crash_hist("gpu").alias("gpu_crashes"),
        crash_hist("plugin").alias("plugin_crashes"),
        crash_hist("gmplugin").alias("gmplugin_crashes"),
        _int_when(is_crash & content_crash & content_shutdown).alias(
            "content_shutdown_crashes"
        ),
    ] + [
        F.when(is_main, P.count_histogram_value(payload, h)).alias(h)
        for h in COUNT_HISTOGRAM_ERRORS
    ]

    experiments = F.when(is_core, P.core_experiments_array(ping)).otherwise(
        P.experiments_array(ping)
    )

    return (
        parsed.where(allowed & ~rejected)
        .select(
            ts.alias("timestamp"),
            P.timestamp_to_date_string(ts).alias("submission_date_s3"),
            meta["normalizedChannel"].alias("channel"),
            version.alias("version"),
            display_version.alias("display_version"),
            build_id.alias("build_id"),
            meta["appName"].alias("application"),
            os_name.alias("os_name"),
            P.normalized_os_version(os_version_raw).alias("os_version"),
            architecture.alias("architecture"),
            meta["geoCountry"].alias("country"),
            F.explode(experiments).alias("experiment"),
            *metrics,
        )
        .withColumn("experiment_id", F.col("experiment")["experiment_id"])
        .withColumn("experiment_branch", F.col("experiment")["experiment_branch"])
        .drop("experiment")
    )


STAT_COLUMNS = [
    "usage_hours",
    "count",
    "main_crashes",
    "startup_crashes",
    "content_crashes",
    "gpu_crashes",
    "plugin_crashes",
    "gmplugin_crashes",
    "content_shutdown_crashes",
] + [h for h in COUNT_HISTOGRAM_ERRORS]

DIMENSION_COLUMNS = [
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


def _window_aggregate(
    rows: DataFrame,
    streaming: bool,
    dimensions: list[str] | None,
    stats: list[str] | None,
) -> DataFrame:
    """:func:`window_aggregate` with the ErrorAggregator defaults:
    every stat summed under its lower-cased name.  ``streaming`` is
    unused — the watermark follows ``rows.isStreaming`` — and stays for
    positional callers."""
    aggs = [F.sum(c).alias(c.lower()) for c in stats or STAT_COLUMNS]
    return window_aggregate(rows, dimensions or DIMENSION_COLUMNS, aggs)


def aggregate(
    raw: DataFrame,
    dimensions: list[str] | None = None,
    stats: list[str] | None = None,
):
    """A1: 5-minute tumbling-window multi-sum over all dimensions
    (ErrorAggregatorBase.scala:238-256).  Streaming input adds the
    1-minute watermark (W1) for state bounding; schema identical
    either way.

    Returns ``(df, counts)``: the plan carries the ``parse_guard``
    observation of :func:`parse_failure` rows, and ``counts()`` reads
    it after a batch action (``counts`` is ``None`` for streaming
    input — see ``functions/pings.guarded_parse``).

    ``dimensions``/``stats`` default to the full ErrorAggregator
    schema; ExperimentsErrorAggregator passes its subsets
    (ExperimentsErrorAggregator.scala:16-39).
    """
    pings, counts = P.guarded_parse(raw, parse_failure())
    return _window_aggregate(prepare(pings), raw.isStreaming, dimensions, stats), counts


def write_streaming(
    raw: DataFrame,
    output_path: str,
    checkpoint_path: str,
    dimensions: list[str] | None = None,
    stats: list[str] | None = None,
):
    """K1 (:func:`write_files`): append-mode date-partitioned parquet,
    one file per batch.

    Every micro-batch reports ``observedMetrics["parse_guard"]`` on its
    progress; under --raise-on-error the CLI registers a
    :func:`make_reject_guard_listener` and stops the query when a
    micro-batch reports rejected rows."""
    agg, _ = aggregate(raw, dimensions, stats)
    return write_files(agg, output_path, "parquet", "submission_date_s3", checkpoint_path,
                       "error_aggregator")


def write_batch(
    raw: DataFrame,
    output_path: str,
    num_files: int = 60,
    raise_on_error: bool = False,
    dimensions: list[str] | None = None,
    stats: list[str] | None = None,
) -> dict:
    """K2 (:func:`write_files`): dynamic-partition-overwrite parquet in
    ``num_files`` tasks.

    Returns the ``parse_guard`` counts (``rows_seen``,
    ``rows_rejected``), counted in the same pass as the write.
    ``raise_on_error``: raise :class:`ParseRejectionError` after the
    write when any input row was rejected, matching the reference's
    --raise-on-error exception propagation."""
    from telemetry_streaming_spark.observability import ParseRejectionError

    agg, counts = aggregate(raw, dimensions, stats)
    write_files(agg, output_path, "parquet", "submission_date_s3", None, "error_aggregator",
                num_files)
    seen = counts()
    if raise_on_error and seen["rows_rejected"]:
        raise ParseRejectionError(seen)
    return seen
