"""CrashesToInflux / CrashesToOpenTsdb — crash pings formatted as
InfluxDB line protocol or OpenTSDB JSON (P25).

Reference: CrashPingStreamingBase.scala:188-232 (tag assembly, filter
of empty values, fixed tag order via ListMap), CrashesToInflux.scala:
13-34 (line protocol + signature escaping), CrashesToOpenTsdb.scala:
13-42 (JSON + signature sanitizing).

The optional crash-signature step (P26) shells out to fx-crash-sig in
the reference (CrashPingStreamingBase.scala:236-278).  That library
is not available in this container, so the hook is a clearly-marked
stub: `signature_udf=None` (default) reproduces the reference's
`--getCrashSignature` disabled mode (signature tag omitted); passing
a pandas UDF plugs the real library in with no other changes.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from telemetry_streaming_spark.functions import pings as P

DEFAULT_CHANNELS = ("release", "beta", "nightly")
DEFAULT_APP_NAMES = ("Firefox",)

# fixed ListMap order, CrashPingStreamingBase.scala:209-220
TAG_ORDER = (
    "submissionDate",
    "appVersion",
    "appName",
    "displayVersion",
    "channel",
    "country",
    "osName",
    "osVersion",
    "architecture",
    "buildIdTag",
    "crashSignature",
)


def crash_signature_udf(signature_fn=None):
    """P26 as an Arrow-batched pandas UDF factory.

    The reference pipes each crash payload through the external
    ``fx-crash-sig`` binary with retry/timeout plumbing
    (CrashPingStreamingBase.scala:236-278); that tool's siggen
    algorithm is implemented natively in
    :mod:`telemetry_streaming_spark.functions.siggen`, so in PySpark
    the whole step is an in-process pandas UDF — one Arrow batch of
    stack-trace JSON strings in, one batch of signature strings out,
    no subprocess, no per-row Python round trip.

    ``signature_fn(stack_traces_json: str) -> str`` overrides the
    default (e.g. ``siggen.make_signature_fn(<full Mozilla rule
    lists>)``, or ``fx_crash_sig.CrashProcessor().get_signature`` where
    that package is installed).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from telemetry_streaming_spark.functions.siggen import signature_from_json

    fn = signature_fn or signature_from_json

    def sig(stack_traces):
        return stack_traces.map(lambda s: "" if s is None else fn(s))

    # real annotations (not PEP-563 strings) so pandas_udf infers the
    # scalar-series eval type under `from __future__ import annotations`
    sig.__annotations__ = {"stack_traces": pd.Series, "return": pd.Series}
    return pandas_udf(sig, "string")


def _crash_tags(
    ping: Column, signature: Column | None, escape
) -> list[tuple[str, Column]]:
    """The fixed-order tags; ``escape`` encodes a caller's raw
    ``signature`` for the target format where it enters the tags."""
    meta = ping["meta"]
    env = ping["environment"]
    build_id = P.normalized_build_id(env["build"]["buildId"], meta["submissionDate"])
    pairs = [
        ("submissionDate", meta["submissionDate"]),
        ("appVersion", meta["appVersion"]),
        ("appName", meta["appName"]),
        ("displayVersion", env["build"]["displayVersion"]),
        ("channel", meta["normalizedChannel"]),
        ("country", meta["geoCountry"]),
        ("osName", P.crash_os_name(ping)),
        ("osVersion", P.normalized_os_version(env["system"]["os"]["version"])),
        ("architecture", env["build"]["architecture"]),
        ("buildIdTag", F.coalesce(build_id, meta["appBuildId"])),
    ]
    if signature is not None:
        pairs.append(("crashSignature", escape(signature)))
    return pairs


def _filtered_crashes(
    raw: DataFrame, channels: tuple[str, ...], app_names: tuple[str, ...]
) -> DataFrame:
    parsed = P.parse_pings(raw)
    ping = F.col("ping")
    meta = ping["meta"]
    return parsed.where(
        (meta["docType"] == "crash")
        & meta["normalizedChannel"].isin(*channels)
        & meta["appName"].isin(*app_names)
    )


def to_influx(
    raw: DataFrame,
    measurement_name: str = "crashes",
    channels: tuple[str, ...] = DEFAULT_CHANNELS,
    app_names: tuple[str, ...] = DEFAULT_APP_NAMES,
    signature: Column | None = None,
) -> DataFrame:
    """Line protocol: ``measurement,k=v,... buildId=<id> <ts_ns>``
    with empty-valued tags dropped (CrashesToInflux.scala:13-22).  A raw
    ``signature`` is escaped by :func:`influx_escape_signature`."""
    df = _filtered_crashes(raw, channels, app_names)
    ping = F.col("ping")
    meta = ping["meta"]
    build_id = F.coalesce(
        P.normalized_build_id(ping["environment"]["build"]["buildId"], meta["submissionDate"]),
        meta["appBuildId"],
    )
    tag_fragments = [
        F.when(
            col.isNotNull() & (col != ""), F.concat(F.lit(f",{name}="), col)
        ).otherwise(F.lit(""))
        for name, col in _crash_tags(ping, signature, influx_escape_signature)
    ]
    line = F.concat(
        F.lit(measurement_name),
        *tag_fragments,
        F.lit(" buildId="),
        build_id,
        F.lit(" "),
        meta["Timestamp"].cast("string"),
    )
    return df.select(line.alias("value"))


def to_opentsdb(
    raw: DataFrame,
    measurement_name: str = "crashes",
    channels: tuple[str, ...] = DEFAULT_CHANNELS,
    app_names: tuple[str, ...] = DEFAULT_APP_NAMES,
    signature: Column | None = None,
) -> DataFrame:
    """OpenTSDB JSON: {metric, timestamp(ms), value=buildId, tags}
    (CrashesToOpenTsdb.scala:13-30); timestamp = ns / 1e6.  A raw
    ``signature`` is sanitized by :func:`opentsdb_sanitize_signature`."""
    df = _filtered_crashes(raw, channels, app_names)
    ping = F.col("ping")
    meta = ping["meta"]
    build_id = F.coalesce(
        P.normalized_build_id(ping["environment"]["build"]["buildId"], meta["submissionDate"]),
        meta["appBuildId"],
    )
    pairs = _crash_tags(ping, signature, opentsdb_sanitize_signature)
    tags = F.map_filter(
        F.map_from_arrays(
            F.array(*[F.lit(n) for n, _ in pairs]),
            F.array(*[c for _, c in pairs]),
        ),
        lambda _, v: v.isNotNull() & (v != ""),
    )
    doc = F.to_json(
        F.struct(
            F.lit(measurement_name).alias("metric"),
            (meta["Timestamp"] / 1000000).cast("long").alias("timestamp"),
            build_id.alias("value"),
            tags.alias("tags"),
        )
    )
    return df.select(doc.alias("value"))


def influx_escape_signature(sig: Column) -> Column:
    r"""Influx special chars: space/comma/equals/quote get backslash-
    escaped (CrashesToInflux.scala:28-34)."""
    out = sig
    for ch, repl in ((" ", r"\\ "), (",", r"\\,"), ("=", r"\\="), ('"', r"\\\"")):
        out = F.regexp_replace(out, re.escape(ch), repl)
    return out


def opentsdb_sanitize_signature(sig: Column) -> Column:
    """OpenTSDB charset: ' | '->'.', '::'->'-', ' '->'_', everything
    outside [a-zA-Z0-9_./-] -> '/' (CrashesToOpenTsdb.scala:36-42)."""
    out = F.replace(sig, F.lit(" | "), F.lit("."))
    out = F.replace(out, F.lit("::"), F.lit("-"))
    out = F.replace(out, F.lit(" "), F.lit("_"))
    return F.regexp_replace(out, "[^a-zA-Z0-9_./-]", "/")
