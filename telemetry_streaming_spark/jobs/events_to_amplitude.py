"""EventsToAmplitude — config-driven event republisher.

Re-expresses the reference job (EventsToAmplitude.scala:38-304,
Ping.scala:300-473) Spark-first:

* The JSON config (validated against the restricted meta-schema
  ``schemas/schemaFileSchema.json``) is **compiled on the driver** into
  native Column predicates and ``to_json`` projections, so the whole
  per-event pipeline — filter → schema-match → Amplitude JSON — runs
  inside WholeStageCodegen.  The reference instead runs a generic
  JSON-schema validator per event per schema inside a flatMap closure
  (Ping.scala:354-377): opaque to Catalyst and ~100x slower per row.
* First-match-wins across (eventGroup x event) specs
  (Ping.scala:365-370 ``.filter(_._1) ... .head``) becomes one spec
  index per event, -1 for no match: ``coalesce(when(pred_i, i) ...,
  -1)`` on the compiled tier, the jsonschema UDF on the general tier.
  One ``to_json`` per event (``amplitude_event_json``) then picks every
  spec-dependent part by that index, so the plan does not grow with
  the number of specs.
* Top-level filters (EventsToAmplitude.scala:150-166) are plain
  ``filter`` on meta columns over the one parsed ping
  (``functions/pings.parse_pings``); nothing is pushed into the scan.
* Sampling (``includePing``, Ping.scala:384-393): keep iff
  ``coalesce(sample_id, lit(sample*100)) < sample*100``.

Not reproduced (ROADMAP item 2, co-location): the reference's
``repartition(maxParallel, clientId)`` so one HTTP request carries one
client's events, and its ``minDelay`` rate limit (Bug 1484819,
EventsToAmplitude.scala:29-36, :228); the CLI pushes the partitions as
they are.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field as dc_field
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from telemetry_streaming_spark.functions.events import mobile_ping_events, reshape_events
from telemetry_streaming_spark.functions.pings import (
    active_ticks,
    parse_pings,
    scalar_value,
    search_count,
)

# Fields of the reshaped event struct that the config schema language
# may constrain (schemaFileSchema.json "allowedPropertyValues" +
# per-event schema property set).
EVENT_FIELDS = ("timestamp", "category", "method", "object", "value", "extra")

# Source dataset -> partition-layout fields (EventsToAmplitude.scala:47-66).
TOP_LEVEL_PING_FIELDS: dict[str, list[str]] = {
    "telemetry": [
        "appBuildId",
        "appName",
        "appUpdateChannel",
        "appVersion",
        "clientId",
        "docType",
        "geoCity",
        "geoCountry",
        "normalizedChannel",
        "submissionDate",
    ],
    "telemetry-cohorts": ["submissionDate", "docType", "experimentId", "experimentBranch"],
}

_PROPERTY_VALUE_RE = re.compile(r"^(timestamp|category|object|method|value)$|^(extra)|(literal)")


class ConfigError(ValueError):
    """Config does not validate against the meta-schema semantics."""


@dataclass(frozen=True)
class EventSpec:
    name: str
    description: str = ""
    session_id_offset: str | None = None
    amplitude_properties: dict[str, str] = dc_field(default_factory=dict)
    user_properties: dict[str, str] = dc_field(default_factory=dict)
    schema: dict = dc_field(default_factory=dict)


@dataclass(frozen=True)
class EventGroup:
    name: str
    events: tuple[EventSpec, ...]


@dataclass(frozen=True)
class AmplitudeConfig:
    source: str
    filters: dict[str, list[str]]
    event_groups: tuple[EventGroup, ...]

    @property
    def top_level_filters(self) -> dict[str, list[str]]:
        tl = TOP_LEVEL_PING_FIELDS[self.source]
        return {k: v for k, v in self.filters.items() if k in tl}

    @property
    def non_top_level_filters(self) -> dict[str, list[str]]:
        tl = TOP_LEVEL_PING_FIELDS[self.source]
        return {k: v for k, v in self.filters.items() if k not in tl}

    def flat_specs(self) -> list[tuple[str, EventSpec]]:
        """(groupName, spec) pairs in config order — match precedence."""
        return [(g.name, s) for g in self.event_groups for s in g.events]


def _validate_event_schema(schema: dict, where: str) -> None:
    if not isinstance(schema, dict):
        raise ConfigError(f"{where}: schema must be an object")
    props = schema.get("properties", {})
    if not isinstance(props, dict):
        raise ConfigError(f"{where}: properties must be an object")
    for pname, pspec in props.items():
        if pname not in EVENT_FIELDS:
            raise ConfigError(f"{where}: unknown event field {pname!r}")
        if not isinstance(pspec, dict):
            raise ConfigError(f"{where}: property {pname!r} must be an object")
        if "enum" in pspec and not isinstance(pspec["enum"], list):
            raise ConfigError(f"{where}: enum of {pname!r} must be an array")
        if "pattern" in pspec:
            try:
                re.compile(pspec["pattern"])
            except re.error as exc:
                raise ConfigError(f"{where}: bad pattern for {pname!r}: {exc}") from exc
    req = schema.get("required", [])
    if not isinstance(req, list) or any(r not in EVENT_FIELDS for r in req):
        raise ConfigError(f"{where}: required must list event fields, got {req!r}")


def _validate_properties_map(props: dict, where: str) -> None:
    if not isinstance(props, dict):
        raise ConfigError(f"{where} must be an object")
    for k, v in props.items():
        if not isinstance(v, str) or not _PROPERTY_VALUE_RE.match(v):
            raise ConfigError(
                f"{where}[{k!r}]: {v!r} is not one of timestamp|category|object|"
                "method|value or an extra./literal. reference"
            )


def parse_config(doc: dict) -> AmplitudeConfig:
    """Validate + extract a config (readConfigFile,
    EventsToAmplitude.scala:191-206).  Implements the constraints of
    the meta-schema ``schemaFileSchema.json`` directly (required keys,
    filter string-arrays, the allowedPropertyValues DSL) rather than
    shipping a generic JSON-schema engine."""
    if not isinstance(doc, dict):
        raise ConfigError("config must be a JSON object")
    for key in ("source", "eventGroups"):
        if key not in doc:
            raise ConfigError(f"missing required config key {key!r}")
    if doc["source"] not in TOP_LEVEL_PING_FIELDS:
        raise ConfigError(f"unknown source {doc['source']!r}")
    filters = doc.get("filters", {})
    if not isinstance(filters, dict):
        raise ConfigError("filters must be an object")
    for fname, vals in filters.items():
        if not isinstance(vals, list) or not all(isinstance(v, str) for v in vals):
            raise ConfigError(f"filter {fname!r} must be an array of strings")
    groups: list[EventGroup] = []
    if not isinstance(doc["eventGroups"], list) or not doc["eventGroups"]:
        raise ConfigError("eventGroups must be a non-empty array")
    for g in doc["eventGroups"]:
        if "eventGroupName" not in g or "events" not in g or not g["events"]:
            raise ConfigError("each eventGroup needs eventGroupName and non-empty events")
        specs: list[EventSpec] = []
        for e in g["events"]:
            where = f"{g['eventGroupName']}/{e.get('name', '?')}"
            if "name" not in e or "schema" not in e:
                raise ConfigError(f"{where}: events need name and schema")
            _validate_event_schema(e["schema"], where)
            amp = e.get("amplitudeProperties") or {}
            usr = e.get("userProperties") or {}
            _validate_properties_map(amp, f"{where}.amplitudeProperties")
            _validate_properties_map(usr, f"{where}.userProperties")
            specs.append(
                EventSpec(
                    name=e["name"],
                    description=e.get("description", ""),
                    session_id_offset=e.get("sessionIdOffset"),
                    amplitude_properties=amp,
                    user_properties=usr,
                    schema=e["schema"],
                )
            )
        groups.append(EventGroup(name=g["eventGroupName"], events=tuple(specs)))
    return AmplitudeConfig(source=doc["source"], filters=filters, event_groups=tuple(groups))


def load_config(path: str) -> AmplitudeConfig:
    with open(path) as fh:
        return parse_config(json.load(fh))


# --- schema -> Column predicate compiler (P19) ---------------------------
#
# Two tiers.  The COMPILED tier translates the production corpus's
# keyword set (required / enum / pattern / minimum, plus type
# annotations that restate the event struct's natural types) into pure
# Column expressions — JVM-side, codegen'd, zero Python in the hot
# path.  A config with any schema beyond that set routes whole to the
# GENERAL tier (_first_match_indices): the jsonschema library over
# Arrow batches, matching the reference's use of a full JSON-schema
# validator (Ping.scala:354-377; meta-schema
# EventsToAmplitude.scala:191-206).  Either tier only yields the index
# of the first matching spec per event; amplitude_event_json is the one
# serializer both share.

_COMPILED_TOP_KEYWORDS = {"$schema", "type", "properties", "required", "description", "title"}
_COMPILED_PROP_KEYWORDS = {"enum", "pattern", "minimum", "type", "description", "title"}
# JSON types each reshaped-event field naturally serializes to — a
# matching "type" keyword is structurally guaranteed and compiles to
# no-op; a MISmatching one must go through the general validator.
_NATURAL_TYPES = {
    "timestamp": {"number", "integer"},
    "category": {"string"},
    "method": {"string"},
    "object": {"string"},
    "value": {"string"},
}


# Regex constructs whose semantics (or very compilability) diverge
# between Java regex — what the compiled tier's rlike/regexp_count
# executes — and Python `re`, which the general tier
# (_first_match_indices) executes.  A `pattern` containing any of these
# routes the whole config to the general tier, so BOTH matching paths
# evaluate it with the same engine and classification cannot depend on
# which tier a config lands in (the reference validates uniformly via
# everit, EventsToAmplitude.scala:191-206).  The scan is conservative:
# a false positive merely costs the compiled fast path, never
# correctness.
_DIALECT_UNSAFE_RE = re.compile(
    r"""\\[pP]\{        # \p{...} unicode/POSIX property classes: Java-only
      | [*+?}]\+        # possessive quantifiers (*+ ++ ?+ {n}+): Java-only
      | \(\?(?![:=!])   # group constructs beyond (?: (?= (?! — named
                        #   groups, lookbehind, inline flags: divergent
      | \\[AzZGkR]      # absolute anchors / backrefs with differing
                        #   semantics (\Z newline rule, \G, \k, \R)
      | &&              # char-class intersection [a&&b]: Java-only
    """,
    re.X,
)


def _pattern_is_dialect_safe(pattern: str) -> bool:
    return not _DIALECT_UNSAFE_RE.search(pattern)


def schema_is_compiled(schema: dict) -> bool:
    """True iff the compiled Column translation covers EVERY keyword in
    ``schema`` with reference semantics — including that every
    ``pattern`` stays inside the Java/Python shared regex dialect (see
    ``_DIALECT_UNSAFE_RE``).  Detected at config-compile time
    (parse_config callers), not per row."""
    if set(schema) - _COMPILED_TOP_KEYWORDS:
        return False
    if schema.get("type", "object") != "object":
        return False
    for fname, pspec in schema.get("properties", {}).items():
        if fname not in _NATURAL_TYPES:
            return False  # e.g. nested constraints on `extra`
        if set(pspec) - _COMPILED_PROP_KEYWORDS:
            return False
        t = pspec.get("type")
        if t is not None and t not in _NATURAL_TYPES[fname]:
            return False
        if "minimum" in pspec and fname != "timestamp":
            # JSON-schema `minimum` ignores non-numbers; a string-field
            # comparison would wrongly apply lexicographic order.
            return False
        if "pattern" in pspec and not _pattern_is_dialect_safe(pspec["pattern"]):
            return False
    return True


def _first_match_indices(events_col: Column, schemas: list[dict]) -> Column:
    """General-tier matcher over the whole events array: serialize the
    reshaped event structs to a JSON array (null fields omitted, so
    presence lines up with ``required``) and return, per event, the
    index of the first schema it satisfies (-1 = drop).  Every spec —
    compiled-keyword or not — goes through the real jsonschema
    validator here, mirroring the reference's uniform everit validation
    (Ping.scala:354-377).  Validators build once per Arrow batch; the
    UDF is a stateless projection, so the plan streams."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    schemas_json = json.dumps(schemas)  # closure ships a string, not dict trees

    def _match(ev_json):
        import jsonschema

        specs = json.loads(schemas_json)
        validators = [jsonschema.validators.validator_for(s)(s) for s in specs]

        def per_ping(s):
            if s is None:
                return None
            out = []
            for ev in json.loads(s):
                idx = -1
                for j, v in enumerate(validators):
                    if v.is_valid(ev):
                        idx = j
                        break
                out.append(idx)
            return out

        return ev_json.map(per_ping)

    # Nondeterministic to the optimizer only, so it neither pushes the
    # UDF into the ping filter nor inlines it into the serializer.
    match_udf = pandas_udf(_match, "array<int>", PandasUDFType.SCALAR).asNondeterministic()
    return match_udf(F.to_json(events_col))


def event_predicate(ev: Column, schema: dict) -> Column:
    """One compiled event JSON-schema (:func:`schema_is_compiled`) ->
    boolean Column over the reshaped event struct, with JSON-schema
    semantics: an absent (null) property passes every constraint
    unless listed in ``required``.  ``pattern`` runs as Spark's
    ``rlike`` (Java regex); ``schema_is_compiled`` admits only patterns
    in the dialect Java and Python ``re`` share, so a config classifies
    the same in this tier and in ``_first_match_indices``."""
    preds: list[Column] = [F.lit(True)]
    for fname in schema.get("required", []):
        preds.append(ev[fname].isNotNull())
    for fname, pspec in schema.get("properties", {}).items():
        col = ev[fname]
        if "enum" in pspec:
            preds.append(col.isNull() | col.isin(*[str(v) for v in pspec["enum"]]))
        if "pattern" in pspec:
            # JSON-schema pattern is a *search*, not a full match.
            preds.append(col.isNull() | (F.regexp_count(col, F.lit(pspec["pattern"])) > 0))
        if "minimum" in pspec:
            preds.append(col.isNull() | (col >= F.lit(pspec["minimum"])))
    return reduce(lambda a, b: a & b, preds)


def get_field(ev: Column, field: str) -> Column:
    """The reference's property DSL (Event.getField, Ping.scala:460-469):
    timestamp|category|method|object|value|extra.X|literal.X -> string."""
    if field == "timestamp":
        return ev["timestamp"].cast("string")
    if field in ("category", "method", "object"):
        return ev[field]
    if field == "value":
        return F.coalesce(ev["value"], F.lit(""))
    if field.startswith("extra."):
        return F.coalesce(ev["extra"][field[len("extra.") :]], F.lit(""))
    if field.startswith("literal."):
        return F.lit(field[len("literal.") :])
    return F.lit("")


# --- per-doctype ping-level context --------------------------------------


@dataclass(frozen=True)
class PingContext:
    """Columns a doctype contributes to every emitted Amplitude event
    (SendsToAmplitude subclasses)."""

    client_id: Column
    session_start: Column  # epoch ms
    os_name: Column
    os_version: Column
    created: Column
    ping_properties: dict[str, Column]  # merged at the JSON top level
    user_properties: dict[str, Column]  # merged into user_properties


def _settings_bool(s: Column, key: str) -> Column:
    """The reference's asBool: Some(v) -> v == "true", None -> absent."""
    return F.when(s[key].isNotNull(), s[key] == "true")


def _focus_settings_props(payload: Column) -> dict[str, Column]:
    """FocusSettings prefs (FocusEvent.scala:52-90): pref_* strings,
    boolean-ized where the reference does ``== "true"``."""
    s = payload["settings"]
    return {
        "pref_privacy_block_ads": _settings_bool(s, "pref_privacy_block_ads"),
        "pref_locale": s["pref_locale"],
        "pref_privacy_block_social": _settings_bool(s, "pref_privacy_block_social"),
        "pref_secure": _settings_bool(s, "pref_secure"),
        "pref_privacy_block_analytics": _settings_bool(s, "pref_privacy_block_analytics"),
        "pref_search_engine": s["pref_search_engine"],
        "pref_privacy_block_other": _settings_bool(s, "pref_privacy_block_other"),
        "pref_default_browser": _settings_bool(s, "pref_default_browser"),
        "pref_performance_block_webfonts": _settings_bool(s, "pref_performance_block_webfonts"),
        "pref_performance_block_images": _settings_bool(s, "pref_performance_block_images"),
        "pref_autocomplete_installed": _settings_bool(s, "pref_autocomplete_installed"),
        "pref_autocomplete_custom": _settings_bool(s, "pref_autocomplete_custom"),
        "pref_key_tips": _settings_bool(s, "pref_key_tips"),
    }


def focus_context(ping: Column) -> PingContext:
    """focus-event/Focus pings (FocusEvent.scala:10-49): sessionStart =
    payload.created (ms); os from payload."""
    payload = ping["payload"]
    client = ping["meta"]["clientId"]
    return PingContext(
        client_id=client,
        session_start=payload["created"],
        os_name=payload["os"],
        os_version=payload["osversion"],
        created=payload["created"],
        ping_properties={"device_id": client},
        user_properties=_focus_settings_props(payload),
    )


def rocket_context(ping: Column) -> PingContext:
    """focus-event/Zerda pings (RocketEvent.scala:32-46): Focus shape
    with the Rocket user-property set."""
    payload = ping["payload"]
    s = payload["settings"]
    client = ping["meta"]["clientId"]
    user = {
        "pref_search_engine": s["pref_search_engine"],
        "pref_privacy_turbo_mode": _settings_bool(s, "pref_privacy_turbo_mode"),
        "pref_performance_block_images": _settings_bool(s, "pref_performance_block_images"),
        "pref_default_browser": _settings_bool(s, "pref_default_browser"),
        "pref_save_downloads_to": s["pref_save_downloads_to"],
        "pref_webview_version": s["pref_webview_version"],
        "install_referrer": s["install_referrer"],
        "experiment_name": s["experiment_name"],
        "experiment_bucket": s["experiment_bucket"],
        "pref_locale": s["pref_locale"],
        "pref_key_s_tracker_token": s["pref_key_s_tracker_token"],
    }
    return PingContext(
        client_id=client,
        session_start=payload["created"],
        os_name=payload["os"],
        os_version=payload["osversion"],
        created=payload["created"],
        ping_properties={"device_id": client},
        user_properties=user,
    )


def firetv_context(ping: Column) -> PingContext:
    """mobile-event/FirefoxForFireTV pings (FireTvEventPing.scala:36-46):
    adds top-level locale + os_version ping properties and the Fire TV
    user-property set."""
    payload = ping["payload"]
    s = payload["settings"]
    client = ping["meta"]["clientId"]
    user = {
        "tracking_protection_enabled": _settings_bool(s, "tracking_protection_enabled"),
        "total_home_tile_count": s["total_home_tile_count"],
        "custom_home_tile_count": s["custom_home_tile_count"],
        "remote_control_name": s["remote_control_name"],
        "app_id": s["app_id"],
    }
    return PingContext(
        client_id=client,
        session_start=payload["created"],
        os_name=payload["os"],
        os_version=payload["osversion"],
        created=payload["created"],
        ping_properties={
            "device_id": client,
            "locale": payload["locale"],
            "os_version": payload["osversion"],
        },
        user_properties=user,
    )


def mobile_context(ping: Column) -> PingContext:
    """mobile-event/Fennec pings (MobileEvent.scala:36-60): adds
    device_model/arch/locale ping properties and the Fennec(-iOS)
    pref_* user-property set (dotted settings keys are map lookups)."""
    payload = ping["payload"]
    s = payload["settings"]
    client = ping["meta"]["clientId"]
    user = {
        "pref_default_search_engine": s["defaultSearchEngine"],
        "pref_automatic_slider_value": s["prefKeyAutomaticSliderValue"],
        "pref_automatic_switch_on_off": s["prefKeyAutomaticSwitchOnOff"],
        "pref_theme_name": s["prefKeyThemeName"],
        "pref_activity_stream_bookmark_highlights_visible": _settings_bool(
            s, "profile.ASBookmarkHighlightsVisible"
        ),
        "pref_activity_stream_pocket_stories_visible": _settings_bool(
            s, "profile.ASPocketStoriesVisible"
        ),
        "pref_activity_stream_recent_highlights_visible": _settings_bool(
            s, "profile.ASRecentHighlightsVisible"
        ),
        "pref_block_popups": _settings_bool(s, "profile.blockPopups"),
        "pref_tracking_protection_enabled": s["profile.prefkey.trackingprotection.enabled"],
        "pref_tracking_protection_normal_browsing": s[
            "profile.prefkey.trackingprotection.normalbrowsing"
        ],
        "pref_tracking_protection_private_browsing": s[
            "profile.prefkey.trackingprotection.privatebrowsing"
        ],
        "pref_tracking_protection_strength": s["profile.prefkey.trackingprotection.strength"],
        "pref_save_logins": _settings_bool(s, "profile.saveLogins"),
        "pref_settings_close_private_tabs": _settings_bool(
            s, "profile.settings.closePrivateTabs"
        ),
        "pref_show_translation": _settings_bool(s, "profile.show-translation"),
        "pref_show_clipboard_bar": _settings_bool(s, "profile.showClipboardBar"),
        "pref_window_height": s["windowHeight"],
        "pref_window_width": s["windowWidth"],
    }
    return PingContext(
        client_id=client,
        session_start=payload["created"],
        os_name=payload["os"],
        os_version=payload["osversion"],
        created=payload["created"],
        ping_properties={
            "device_id": client,
            "device_model": payload["device"],
            "arch": payload["arch"],
            "locale": payload["locale"],
        },
        user_properties=user,
    )


# (docType, appName) -> ping context, mirroring the reference's
# SendsToAmplitude.apply dispatch (Ping.scala:396-421).  The engine
# parameterizes the *job* by app (each production config pins appName
# via its filters) instead of dispatching per row — the columnar
# analog of the reference's per-message match.
APP_CONTEXTS = {
    ("focus-event", "Focus"): focus_context,
    ("focus-event", "Zerda"): rocket_context,
    ("mobile-event", "FirefoxForFireTV"): firetv_context,
    ("mobile-event", "Fennec"): mobile_context,
}


def context_for(doctype: str, app_name: str | None):
    """Resolve the mobile ping context; unknown apps raise, mirroring
    Ping.scala:403/412's IllegalArgumentException."""
    if doctype == "focus-event" and app_name is None:
        return focus_context  # back-compat default for the Focus job
    fn = APP_CONTEXTS.get((doctype, app_name))
    if fn is None:
        raise ValueError(
            f"unsupported appName {app_name!r} for {doctype} "
            f"(expected {[a for d, a in APP_CONTEXTS if d == doctype]})"
        )
    return fn


def dispatch_for_config(config: AmplitudeConfig) -> tuple[str, str | None]:
    """(doctype, app_name) implied by a production config's filters —
    how a deployment binds one config to one ping class."""
    doctype = (config.filters.get("docType") or ["focus-event"])[0]
    if doctype in ("focus-event", "mobile-event"):
        known = {a for d, a in APP_CONTEXTS if d == doctype}
        for a in config.filters.get("appName", []):
            if a in known:
                return doctype, a
        return doctype, None
    return doctype, None


def _environment_user_props(ping: Column) -> dict[str, Column]:
    """SendsToAmplitudeWithEnvironment (Ping.scala:428-451)."""
    meta, env = ping["meta"], ping["environment"]
    # old-style activeExperiment + new-style experiments map as
    # "id_branch" strings (getExperiments, Ping.scala:247-260, minus
    # the (null,null) slice which flatMaps away at Ping.scala:433-436)
    old = F.when(
        env["addons"]["activeExperiment"]["id"].isNotNull()
        & env["addons"]["activeExperiment"]["branch"].isNotNull(),
        F.array(
            F.concat_ws(
                "_",
                env["addons"]["activeExperiment"]["id"],
                env["addons"]["activeExperiment"]["branch"],
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    new = F.when(
        env["experiments"].isNotNull(),
        F.transform(
            F.map_entries(env["experiments"]),
            lambda e: F.concat_ws("_", e["key"], e["value"]["branch"]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exp = F.array_distinct(F.concat(old, new))
    return {
        "channel": meta["normalizedChannel"],
        "sample_id": meta["sampleId"],
        "app_build_id": meta["appBuildId"],
        "app_name": meta["appName"],
        "locale": env["settings"]["locale"],
        "is_default_browser": env["settings"]["isDefaultBrowser"],
        "country": meta["geoCountry"],
        "env_build_arch": env["build"]["architecture"],
        "is_wow64": env["system"]["isWow64"],
        "memory_mb": env["system"]["memoryMB"],
        # epoch day -> ISO local date (Meta.epochDayToIso8601, Ping.scala:181-184)
        "profile_creation_date": F.date_format(
            F.date_add(F.to_date(F.lit("1970-01-01")), env["profile"]["creationDate"].cast("int")),
            "yyyy-MM-dd",
        ),
        "source": env["settings"]["attribution"]["source"],
        "experiments": exp,
    }


def event_ping_context(ping: Column) -> PingContext:
    """event pings: sessionStart = payload.processStartTimestamp
    (EventPing.scala:25)."""
    meta = ping["meta"]
    return PingContext(
        client_id=meta["clientId"],
        session_start=ping["payload"]["processStartTimestamp"],
        os_name=ping["environment"]["system"]["os"]["name"],
        os_version=ping["environment"]["system"]["os"]["version"],
        created=(meta["Timestamp"] / F.lit(1_000_000_000)).cast("bigint"),
        ping_properties={"user_id": meta["clientId"]},
        user_properties=_environment_user_props(ping),
    )


def main_ping_context(ping: Column, events: Column) -> PingContext:
    """main pings: sessionStart = ISO sessionStartDate -> epoch ms, else
    Timestamp/1e9 - max(event ts) (MainPing.scala:158-162)."""
    meta, info = ping["meta"], ping["payload"]["info"]
    iso_ms = F.unix_timestamp(F.to_timestamp(info["sessionStartDate"])) * 1000
    fallback = (
        (meta["Timestamp"] / F.lit(1_000_000_000)).cast("bigint")
        - F.coalesce(F.array_max(F.transform(events, lambda e: e["timestamp"])), F.lit(0)).cast(
            "bigint"
        )
    )
    return PingContext(
        client_id=meta["clientId"],
        session_start=F.coalesce(iso_ms, fallback),
        os_name=ping["environment"]["system"]["os"]["name"],
        os_version=ping["environment"]["system"]["os"]["version"],
        created=(meta["Timestamp"] / F.lit(1_000_000_000)).cast("bigint"),
        ping_properties={"user_id": meta["clientId"]},
        user_properties=_environment_user_props(ping),
    )


# --- event -> Amplitude JSON (P20) ---------------------------------------


def _by_spec(ev: Column, j: Column, refs: dict[int, str]) -> Column:
    """``CASE j``: ``get_field(ev, refs[j])``, null for a spec index not
    in ``refs``."""
    branches = [(j == i, get_field(ev, ref)) for i, ref in refs.items()]
    return reduce(lambda c, b: c.when(*b), branches[1:], F.when(*branches[0]))


def _spec_struct(
    ev: Column, j: Column, per_spec: list[dict[str, str]], base: dict[str, Column]
) -> Column:
    """A struct that, at spec index ``j``, serializes as ``base``
    updated with ``per_spec[j]``: same keys, order and types.  Each key
    is a slot, null for the specs that lack it (``to_json`` omits
    nulls).  Specs share a slot while their key orders agree; a key
    that shadows a ``base`` key gets its own slot right after the base
    one, which is null for the shadowing specs, so no slot mixes
    types."""
    fields = []
    for k, c in base.items():
        shadow = {i: props[k] for i, props in enumerate(per_spec) if k in props}
        if shadow:
            fields += [F.when(~j.isin(*shadow), c).alias(k), _by_spec(ev, j, shadow).alias(k)]
        else:
            fields.append(c.alias(k))
    slots: list[tuple[str, dict[int, str]]] = []
    for i, props in enumerate(per_spec):
        at = 0
        for k, ref in props.items():
            if k in base:
                continue
            at = next((n for n in range(at, len(slots)) if slots[n][0] == k), len(slots))
            if at == len(slots):
                slots.append((k, {}))
            slots[at][1][i] = ref
            at += 1
    fields += [_by_spec(ev, j, refs).alias(k) for k, refs in slots]
    return F.struct(*fields)


def amplitude_event_json(
    ping: Column, ctx: PingContext, ev: Column, j: Column, specs: list[tuple[str, EventSpec]]
) -> Column:
    """One event matched by the spec at index ``j`` of ``specs`` ->
    compact Amplitude JSON string (eventToAmplitudeEvent,
    Ping.scala:329-352).  One ``to_json`` serves every spec: the
    spec-dependent parts (event_type, the name in insert_id, the
    session offset, event and user properties) are picked by ``j``."""
    meta = ping["meta"]
    names = F.array(*[F.lit(spec.name) for _, spec in specs])
    event_types = F.array(*[F.lit(f"{g} - {spec.name}") for g, spec in specs])
    offsets = {i: s.session_id_offset for i, (_, s) in enumerate(specs) if s.session_id_offset}
    offset = (
        F.coalesce(_by_spec(ev, j, offsets).try_cast("bigint"), F.lit(0)) if offsets else F.lit(0)
    )
    insert_id = F.concat_ws(
        "-",
        F.coalesce(ctx.client_id, F.lit("None")),
        ctx.session_start.cast("string"),
        names[j],
        ev["timestamp"].cast("string"),
        ev["category"],
        ev["method"],
        ev["object"],
    )
    fields = dict(ctx.ping_properties)
    fields.update(
        {
            "session_id": (ctx.session_start + offset).cast("bigint"),
            "insert_id": insert_id,
            "event_type": event_types[j],
            "time": (ev["timestamp"].cast("bigint") + ctx.session_start).cast("bigint"),
            "event_properties": _spec_struct(ev, j, [s.amplitude_properties for _, s in specs], {}),
            "user_properties": _spec_struct(
                ev, j, [s.user_properties for _, s in specs], ctx.user_properties
            ),
            "app_version": meta["appVersion"],
            "os_name": ctx.os_name,
            "os_version": ctx.os_version,
            "country": meta["geoCountry"],
            "city": meta["geoCity"],
        }
    )
    return F.to_json(F.struct(*[c.alias(k) for k, c in fields.items()]))


# --- the job -------------------------------------------------------------


def _top_level_filter(ping: Column, config: AmplitudeConfig) -> Column:
    pred = F.lit(True)
    for name, allowed in config.top_level_filters.items():
        if name in TOP_LEVEL_PING_FIELDS["telemetry"]:  # the meta fields
            pred = pred & F.coalesce(ping["meta"][name], F.lit("")).isin(*allowed)
    return pred


def _non_top_level_filter(ctx: PingContext, config: AmplitudeConfig) -> Column:
    """filterProperties = {os -> getOsName, created -> getCreated}
    (Ping.scala:301, includePing Ping.scala:391-393)."""
    pred = F.lit(True)
    for name, allowed in config.non_top_level_filters.items():
        if name == "os":
            pred = pred & F.coalesce(ctx.os_name, F.lit("")).isin(*allowed)
        elif name == "created":
            pred = pred & F.coalesce(ctx.created.cast("string"), F.lit("0")).isin(*allowed)
    return pred


def _session_split_event(ping: Column) -> Column:
    """P21: main pings prepend a synthetic meta/session_split event
    (MainPing.scala:136-149).  Keys whose value is absent are OMITTED
    from extra (the reference flatMaps away Nones)."""
    payload = ping["payload"]
    info = payload["info"]

    def kv(key: str, value: Column) -> Column:
        return F.struct(F.lit(key).alias("key"), value.cast("string").alias("value"))

    pairs = F.filter(
        F.array(
            kv("subsession_length", F.coalesce(info["subsessionLength"], F.lit(0))),
            kv("active_ticks", active_ticks(payload)),
            kv("uri_count", scalar_value(payload, "parent", "browser.engagement.total_uri_count")),
            kv("search_count", F.coalesce(search_count(payload), F.lit(0))),
            kv("reason", info["reason"]),
        ),
        lambda p: p["value"].isNotNull(),
    )
    return F.struct(
        F.coalesce(info["sessionLength"], F.lit(0)).cast("int").alias("timestamp"),
        F.lit("meta").alias("category"),
        F.lit("session_split").alias("method"),
        F.lit("").alias("object"),
        F.lit(None).cast("string").alias("value"),
        F.map_from_entries(pairs).alias("extra"),
    )


def amplitude_payloads(
    raw: DataFrame,
    config: AmplitudeConfig,
    sample: float = 1.0,
    doctype: str = "focus-event",
    app_name: str | None = None,
) -> DataFrame:
    """Raw JSON pings -> KeyedAmplitudePayload(client_id, events[])
    (getEvents, EventsToAmplitude.scala:169-181).

    One row per ping that produced >= 1 matched event; ``events`` is an
    array of compact Amplitude JSON strings.
    """
    df = parse_pings(raw)
    ping = F.col("ping")
    df = df.filter(_top_level_filter(ping, config))

    if doctype in ("focus-event", "mobile-event"):
        events = mobile_ping_events(ping["payload"])
        ctx = context_for(doctype, app_name)(ping)
    elif doctype == "event":
        # payload.events[process] map, all processes (EventPing.scala:17-21)
        events = reshape_events(F.flatten(F.map_values(ping["payload"]["events"])))
        ctx = event_ping_context(ping)
    elif doctype == "main":
        per_proc = F.flatten(
            F.filter(
                F.map_values(ping["payload"]["processes"]),
                lambda p: p["events"].isNotNull(),
            ).getField("events")
        )
        events = reshape_events(per_proc)
        ctx = main_ping_context(ping, events)
        events = F.concat(F.array(_session_split_event(ping)), events)
    else:
        raise ValueError(f"unsupported doctype {doctype!r}")

    # includePing: sampling + non-top-level filters (Ping.scala:384-393)
    keep = (
        F.coalesce(ping["meta"]["sampleId"], F.lit(sample * 100)) < F.lit(sample * 100)
    ) & _non_top_level_filter(ctx, config)
    df = df.filter(keep)

    specs = config.flat_specs()
    if all(schema_is_compiled(spec.schema) for _, spec in specs):
        # Compiled tier: per-event matching runs INSIDE the events
        # array via transform() — no explode, no shuffle, whole ping
        # stays one row end-to-end.
        match = F.transform(
            events,
            lambda ev: F.coalesce(
                *[F.when(event_predicate(ev, s.schema), i) for i, (_, s) in enumerate(specs)],
                F.lit(-1),
            ),
        )
    else:
        # General tier: a pandas UDF cannot run inside a higher-order
        # lambda, so the jsonschema validation maps the WHOLE events
        # array to its spec indices, one Arrow batch at a time.  Pure
        # map, no explode, no shuffle: the plan streams like the
        # reference's in-stream validator (Ping.scala:354-377).
        match = _first_match_indices(events, [spec.schema for _, spec in specs])
    # Both tiers meet here: the index is projected once, the ping filter
    # reads it, and one serializer per event picks its spec by index.
    idx = F.col("__idx")
    matched = F.zip_with(
        events, idx, lambda ev, j: F.when(j >= 0, amplitude_event_json(ping, ctx, ev, j, specs))
    )
    return df.withColumn("__idx", match).filter(F.exists(idx, lambda j: j >= 0)).select(
        F.coalesce(ctx.client_id, F.lit("")).alias("client_id"),
        F.array_compact(matched).alias("events"),
    )


def exploded_events(payloads: DataFrame) -> DataFrame:
    """One row per Amplitude event JSON string — convenient for tests
    and for the oracle harness."""
    # explode_outer: every events array is non-empty, and plain explode
    # would infer a size(events) > 0 filter that copies the serializer
    # below the projection.
    return payloads.select("client_id", F.explode_outer("events").alias("event_json"))
