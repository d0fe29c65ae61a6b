"""EventsToAmplitude golden tests.

Expected values mirror the reference's EventsToAmplitudeTest.scala
(focusPingJson / eventsJson / pingSentJson golden fragments) run over
the same generated pings and an equivalent config — JSON compared
parsed, not as strings.
"""

from __future__ import annotations

import copy
import glob
import json
import os
import random

import pytest

from perfbench.pings import AMPLITUDE_CONFIG
from telemetry_streaming_spark.jobs import events_to_amplitude as amp
from tests import fixtures

APP_OPEN_SCHEMA = {
    "type": "object",
    "properties": {
        "timestamp": {"type": "number", "minimum": 0},
        "category": {"type": "string", "enum": ["action"]},
        "method": {"type": "string", "enum": ["foreground"]},
        "object": {"type": "string", "enum": ["app"]},
    },
    "required": ["timestamp", "category", "method", "object"],
}

ERASE_SCHEMA = {
    "type": "object",
    "properties": {
        "timestamp": {"type": "number", "minimum": 0},
        "category": {"type": "string"},
        "method": {"type": "string"},
        "object": {"type": "string"},
        "value": {"type": "string", "pattern": "^erase"},
    },
    "required": ["timestamp", "category", "method", "object", "value"],
}

APP_CLOSE_SCHEMA = {
    "type": "object",
    "properties": {
        "timestamp": {"type": "number", "minimum": 0},
        "category": {"type": "string", "enum": ["action"]},
        "method": {"type": "string", "enum": ["background"]},
        "object": {"type": "string", "enum": ["app"]},
    },
    "required": ["timestamp", "category", "method", "object"],
}

FOCUS_CONFIG = {
    "source": "telemetry",
    "filters": {"docType": ["focus-event"], "appName": ["Focus"]},
    "eventGroups": [
        {
            "eventGroupName": "m_foc",
            "events": [
                {"name": "AppOpen", "description": "", "schema": APP_OPEN_SCHEMA},
                {
                    "name": "Erase",
                    "description": "",
                    "amplitudeProperties": {
                        "erase_object": "value",
                        "literal_field": "literal.literal value",
                    },
                    "userProperties": {"host": "extra.host"},
                    "schema": ERASE_SCHEMA,
                },
            ],
        },
        {
            "eventGroupName": "second_event_group",
            "events": [
                {
                    "name": "AppClose",
                    "description": "",
                    "amplitudeProperties": {"session_length": "extra.sessionLength"},
                    "schema": APP_CLOSE_SCHEMA,
                }
            ],
        },
    ],
}

EXPECTED_FOCUS_USER_PROPS = {
    "pref_privacy_block_ads": True,
    "pref_locale": "",
    "pref_privacy_block_social": True,
    "pref_secure": True,
    "pref_privacy_block_analytics": True,
    "pref_search_engine": "custom",
    "pref_privacy_block_other": False,
    "pref_default_browser": True,
    "pref_performance_block_webfonts": False,
    "pref_performance_block_images": False,
    "pref_autocomplete_installed": True,
    "pref_autocomplete_custom": False,
}

CREATED = 1506024685632


def _run_focus(spark, pings, sample=1.0, config=None):
    cfg = amp.parse_config(config or FOCUS_CONFIG)
    df = amp.amplitude_payloads(fixtures.to_df(spark, pings), cfg, sample=sample)
    return df


def test_focus_events_golden(spark):
    rows = _run_focus(spark, [fixtures.focus_event_ping()]).collect()
    assert len(rows) == 1
    row = rows[0]
    assert row.client_id == "client1"
    events = [json.loads(e) for e in row.events]
    # 4 input events, type_query matches no schema -> 3 out, config order
    assert [e["event_type"] for e in events] == [
        "m_foc - AppOpen",
        "m_foc - Erase",
        "second_event_group - AppClose",
    ]
    for e in events:
        assert e["app_version"] == "1.1"
        assert e["os_name"] == "Android"
        assert e["os_version"] == "23"
        assert e["country"] == "CA"
        assert e["city"] == "Victoria"
        assert e["device_id"] == "client1"
        assert e["session_id"] == CREATED
        for k, v in EXPECTED_FOCUS_USER_PROPS.items():
            assert e["user_properties"][k] == v

    app_open, erase, app_close = events
    assert app_open["time"] == CREATED + 176078022
    assert erase["event_properties"] == {
        "erase_object": "erase_home",
        "literal_field": "literal value",
    }
    assert erase["user_properties"]["host"] == "side"
    assert (
        erase["insert_id"]
        == f"client1-{CREATED}-Erase-176151285-action-click-back_button"
    )
    assert app_close["event_properties"] == {"session_length": "1000"}


def test_focus_filters_and_sampling(spark):
    wrong_app = fixtures.focus_event_ping(meta={"appName": "Zerda"})
    assert _run_focus(spark, [wrong_app]).count() == 0
    # sampleId 73 >= 50 -> dropped at sample=0.5; sampleId 42 kept
    assert _run_focus(spark, [fixtures.focus_event_ping()], sample=0.5).count() == 0
    low_sample = fixtures.focus_event_ping(meta={"sampleId": 42.0})
    assert _run_focus(spark, [low_sample], sample=0.5).count() == 1
    # missing sampleId -> excluded (sample*100 < sample*100 is false,
    # Ping.scala:385)
    no_sample = fixtures.focus_event_ping(meta={"sampleId": None})
    assert _run_focus(spark, [no_sample], sample=0.5).count() == 0


def test_no_matching_events_drops_ping(spark):
    only_typing = fixtures.focus_event_ping(
        events=[[1, "action", "type_query", "search_bar"]]
    )
    assert _run_focus(spark, [only_typing]).count() == 0


def test_config_validation():
    with pytest.raises(amp.ConfigError):
        amp.parse_config({"eventGroups": []})  # missing source
    with pytest.raises(amp.ConfigError):
        amp.parse_config({"source": "telemetry", "eventGroups": []})
    bad_prop = json.loads(json.dumps(FOCUS_CONFIG))
    bad_prop["eventGroups"][0]["events"][0]["amplitudeProperties"] = {"x": "nonsense"}
    with pytest.raises(amp.ConfigError):
        amp.parse_config(bad_prop)
    bad_field = json.loads(json.dumps(FOCUS_CONFIG))
    bad_field["eventGroups"][0]["events"][0]["schema"] = {
        "properties": {"unknown_field": {"type": "string"}}
    }
    with pytest.raises(amp.ConfigError):
        amp.parse_config(bad_field)


MAIN_CONFIG = {
    "source": "telemetry",
    "filters": {"docType": ["main"], "appName": ["Firefox"]},
    "eventGroups": [
        {
            "eventGroupName": "Meta",
            "events": [
                {
                    "name": "session split",
                    "description": "",
                    "amplitudeProperties": {
                        "subsession_length": "extra.subsession_length",
                        "active_ticks": "extra.active_ticks",
                        "uri_count": "extra.uri_count",
                        "search_count": "extra.search_count",
                    },
                    "schema": {
                        "type": "object",
                        "properties": {"category": {"type": "string", "enum": ["meta"]}},
                        "required": ["timestamp", "category", "method", "object"],
                    },
                }
            ],
        }
    ],
}


def test_main_ping_session_split(spark):
    cfg = amp.parse_config(MAIN_CONFIG)
    df = amp.amplitude_payloads(
        fixtures.to_df(spark, [fixtures.main_ping(experiments={"experiment2": "chaos"})]),
        cfg,
        doctype="main",
    )
    rows = df.collect()
    assert len(rows) == 1
    events = [json.loads(e) for e in rows[0].events]
    assert len(events) == 1
    split = events[0]
    assert split["event_type"] == "Meta - session split"
    # sessionStartDate 2018-05-30T11:00:00.0-05:00 == 16:00 UTC
    assert split["session_id"] == 1527696000000
    assert split["user_id"] == "client1"
    props = split["event_properties"]
    assert props["subsession_length"] == "3600"
    assert props["active_ticks"] == "275"
    assert props["search_count"] == "4"
    # no parent scalar in the fixture -> uri_count omitted
    assert props["uri_count"] == ""
    up = split["user_properties"]
    assert up["channel"] == "release"
    assert up["app_name"] == "Firefox"
    assert up["locale"] == "it_IT"
    assert up["is_default_browser"] is True
    assert up["memory_mb"] == 4136.0
    assert up["profile_creation_date"] == "2016-03-01"
    assert up["experiments"] == ["experiment1_control", "experiment2_chaos"]


# --- per-app mobile variants (Ping.scala:396-421 dispatch) ---------------

EXPECTED_ROCKET_USER_PROPS = {
    "pref_search_engine": "google",
    "pref_privacy_turbo_mode": True,
    "pref_performance_block_images": False,
    "pref_default_browser": True,
    "pref_save_downloads_to": "/sdcard",
    "pref_webview_version": "68.0",
    "install_referrer": "utm_source=gp",
    "experiment_name": "exp-a",
    "experiment_bucket": "2",
    "pref_locale": "zh-TW",
    "pref_key_s_tracker_token": "tok",
}

EXPECTED_FIRETV_USER_PROPS = {
    "tracking_protection_enabled": True,
    "total_home_tile_count": "7",
    "custom_home_tile_count": "3",
    "remote_control_name": "Fire TV Remote",
    "app_id": "firetv-app",
}

EXPECTED_MOBILE_USER_PROPS = {
    "pref_default_search_engine": "google",
    "pref_automatic_slider_value": "0.44",
    "pref_automatic_switch_on_off": "true",
    "pref_theme_name": "normal",
    "pref_activity_stream_bookmark_highlights_visible": True,
    "pref_activity_stream_pocket_stories_visible": False,
    "pref_activity_stream_recent_highlights_visible": True,
    "pref_block_popups": True,
    "pref_tracking_protection_enabled": "basic",
    "pref_tracking_protection_normal_browsing": "on",
    "pref_tracking_protection_private_browsing": "on",
    "pref_tracking_protection_strength": "strict",
    "pref_save_logins": True,
    "pref_settings_close_private_tabs": False,
    "pref_show_translation": True,
    "pref_show_clipboard_bar": False,
    "pref_window_height": "0.0",
    "pref_window_width": "0.0",
}


def _app_config(doctype, app_name):
    return {**FOCUS_CONFIG, "filters": {"docType": [doctype], "appName": [app_name]}}


def _run_app(spark, ping_json, doctype, app_name):
    df = amp.amplitude_payloads(
        fixtures.to_df(spark, [ping_json]),
        amp.parse_config(_app_config(doctype, app_name)),
        doctype=doctype,
        app_name=app_name,
    )
    rows = df.collect()
    assert len(rows) == 1
    return [json.loads(e) for e in rows[0].events]


def test_rocket_events_user_properties(spark):
    events = _run_app(
        spark,
        fixtures.rocket_event_ping(),
        "focus-event",
        "Zerda",
    )
    assert len(events) == 3
    for e in events:
        assert e["device_id"] == "client1"
        for k, v in EXPECTED_ROCKET_USER_PROPS.items():
            assert e["user_properties"][k] == v, k
        assert "pref_privacy_block_ads" not in e["user_properties"]


def test_firetv_events_user_and_ping_properties(spark):
    events = _run_app(
        spark,
        fixtures.fire_tv_event_ping(),
        "mobile-event",
        "FirefoxForFireTV",
    )
    assert len(events) == 3
    for e in events:
        assert e["device_id"] == "client1"
        assert e["locale"] == "en-US"  # FireTvEventPing.scala:38
        assert e["os_version"] == "23"
        for k, v in EXPECTED_FIRETV_USER_PROPS.items():
            assert e["user_properties"][k] == v, k


def test_mobile_events_user_and_ping_properties(spark):
    events = _run_app(
        spark,
        fixtures.mobile_event_ping(),
        "mobile-event",
        "Fennec",
    )
    assert len(events) == 3
    for e in events:
        assert e["device_id"] == "client1"
        assert e["device_model"] == "iPhone10,4"  # MobileEvent.scala:38
        assert e["arch"] == "arm64"
        assert e["locale"] == "en-US"
        assert e["os_name"] == "iOS"
        assert e["os_version"] == "11.4"
        for k, v in EXPECTED_MOBILE_USER_PROPS.items():
            assert e["user_properties"][k] == v, k


def test_unknown_app_name_raises(spark):
    with pytest.raises(ValueError, match="appName"):
        amp.context_for("mobile-event", "NotAnApp")
    with pytest.raises(ValueError, match="appName"):
        amp.context_for("mobile-event", None)


# --- config corpus (EventsToAmplitudeTest.scala:397-405) ----------------

CONFIG_DIR = "/root/reference/configs"

SHIPPED_CONFIGS = [
    FOCUS_CONFIG,
    MAIN_CONFIG,
    _app_config("focus-event", "Zerda"),
    _app_config("mobile-event", "FirefoxForFireTV"),
    _app_config("mobile-event", "Fennec"),
]

PING_FOR_DOCTYPE = {
    "focus-event": {
        "Focus": fixtures.focus_event_ping,
        "Zerda": fixtures.rocket_event_ping,
        None: fixtures.focus_event_ping,
    },
    "mobile-event": {
        "FirefoxForFireTV": fixtures.fire_tv_event_ping,
        "Fennec": fixtures.mobile_event_ping,
    },
    "main": {None: fixtures.main_ping},
    "event": {None: fixtures.event_ping},
}


def _config_corpus() -> list[amp.AmplitudeConfig]:
    """The configs this file ships, plus the reference's production
    configs when that checkout is present."""
    configs = [amp.parse_config(doc) for doc in SHIPPED_CONFIGS]
    configs += [amp.load_config(p) for p in sorted(glob.glob(os.path.join(CONFIG_DIR, "*.json")))]
    return configs


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_production_config_corpus_compiles_and_runs(spark):
    """Every corpus config must parse, validate, compile to Column
    predicates/projections, and execute end-to-end on a representative
    ping of the class its filters dispatch to (mirrors the reference's
    all-configs validation test)."""
    configs = _config_corpus()
    assert configs  # never passes over an empty corpus
    for cfg in configs:
        doctype, app = amp.dispatch_for_config(cfg)
        make_ping = PING_FOR_DOCTYPE[doctype][app]
        df = amp.amplitude_payloads(
            fixtures.to_df(spark, [make_ping()]),
            cfg,
            doctype=doctype,
            app_name=app,
        )
        df.collect()  # forces full analysis + execution; may be empty


# --- P19 general JSON-schema fallback (Ping.scala:354-377 parity) --------


MAXLEN_SCHEMA = {
    "type": "object",
    "properties": {
        "timestamp": {"type": "number", "minimum": 0},
        "category": {"type": "string", "enum": ["action"]},
        "method": {"type": "string", "maxLength": 6},  # outside compiled set
        "object": {"type": "string"},
    },
    "required": ["timestamp", "category", "method", "object"],
}


def test_schema_is_compiled_detection():
    """Every production-corpus keyword compiles; maxLength / nested
    extra constraints / type-contradictions route to the general
    validator."""
    assert amp.schema_is_compiled(APP_OPEN_SCHEMA)
    assert amp.schema_is_compiled(ERASE_SCHEMA)
    assert not amp.schema_is_compiled(MAXLEN_SCHEMA)
    assert not amp.schema_is_compiled(
        {"type": "object", "properties": {"extra": {"required": ["host"]}}}
    )
    assert not amp.schema_is_compiled(
        {"type": "object", "properties": {"value": {"type": "number"}}}
    )
    assert not amp.schema_is_compiled(
        {"type": "object", "properties": {"value": {"minimum": 3}}}
    )


def test_dialect_unsafe_patterns_route_to_general_tier():
    """The compiled tier runs `pattern` on Java regex (rlike); the
    general tier and _first_match_indices run Python `re`.  Any pattern
    using a construct the dialects disagree on must be kicked off the
    compiled tier so classification never depends on tier placement
    (r5 verdict item 4)."""

    def schema_with(p):
        return {
            "type": "object",
            "properties": {"method": {"type": "string", "pattern": p}},
            "required": ["method"],
        }

    divergent = [
        r"[cd&&k]",  # char-class intersection: Java-only semantics
        r"a*+b",  # possessive quantifier
        r"foo\Z",  # \Z: Java allows trailing newline, Python doesn't
        r"(?<g>a)b",  # Java named group (Python spells it (?P<g>))
        r"\p{Lu}+",  # unicode property class: Java-only
        r"(?i)click",  # inline flags: leave both engines' edge cases out
    ]
    for p in divergent:
        assert not amp.schema_is_compiled(schema_with(p)), p
    shared = [
        r"^[a-z_]+\d{2}$",
        r"(?:fore|back)ground",
        r"(?=cl)\w+",
        r"c.?l\s*i{1,3}ck",
        r"\bback\B",
    ]
    for p in shared:
        assert amp.schema_is_compiled(schema_with(p)), p


def test_divergent_pattern_classifies_identically_across_tiers(spark):
    """[cd&&k] means {c,d} INTERSECT {k} (empty — matches nothing) in
    Java but the literal set {c,d,&,k} in Python.  The dialect gate
    routes it to the general tier, where BOTH matching paths use
    Python `re`: fixture methods foreground/click/background (contain
    c, d, or k) match and type_query does not.  Had the schema stayed
    on the compiled tier, rlike would have matched ZERO events and the
    two paths would disagree."""
    schema = {
        "type": "object",
        "properties": {
            "timestamp": {"type": "number", "minimum": 0},
            "category": {"type": "string", "enum": ["action"]},
            "method": {"type": "string", "pattern": "[cd&&k]"},
        },
        "required": ["timestamp", "category", "method"],
    }
    assert not amp.schema_is_compiled(schema)
    config = {
        "source": "telemetry",
        "filters": {"docType": ["focus-event"], "appName": ["Focus"]},
        "eventGroups": [
            {
                "eventGroupName": "m_foc",
                "events": [
                    {"name": "CDK", "description": "", "schema": schema}
                ],
            }
        ],
    }
    rows = amp.exploded_events(
        _run_focus(spark, [fixtures.focus_event_ping()], config=config)
    ).collect()
    payloads = [json.loads(r.event_json) for r in rows]
    matched = sorted(p["insert_id"].split("-")[-1] for p in payloads)
    got_methods = sorted(
        m
        for m in ("foreground", "type_query", "click", "background")
        for p in payloads
        if m in p["insert_id"]
    )
    assert len(payloads) == 3, payloads
    assert got_methods == ["background", "click", "foreground"], (
        matched,
        got_methods,
    )


def test_production_corpus_stays_on_compiled_tier():
    configs = _config_corpus()
    assert configs  # never passes over an empty corpus
    for cfg in configs:
        for _, spec in cfg.flat_specs():
            assert amp.schema_is_compiled(spec.schema), spec.name


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_general_fallback_maxlength_golden(spark):
    """A config using maxLength must match jsonschema semantics: the
    6-char method 'foregro'... is rejected, short methods pass.  The
    same events through an equivalent compiled schema prove the two
    tiers agree where their semantics overlap."""
    config = {
        "source": "telemetry",
        "filters": {"docType": ["focus-event"], "appName": ["Focus"]},
        "eventGroups": [
            {
                "eventGroupName": "m_foc",
                "events": [{"name": "Short", "description": "", "schema": MAXLEN_SCHEMA}],
            }
        ],
    }
    # fixture methods: foreground / type_query / click / background —
    # under maxLength 6 only 'click' is valid, so exactly one event
    # must match the general validator
    rows = amp.exploded_events(
        _run_focus(spark, [fixtures.focus_event_ping()], config=config)
    ).collect()
    payloads = [json.loads(r.event_json) for r in rows]
    assert [p["event_type"] for p in payloads] == ["m_foc - Short"]
    assert "click" in payloads[0]["insert_id"]
    # widen the cap: all four fixture events pass -> tiers agree that
    # the remaining keywords (type/enum/minimum/required) hold for all
    wide = {**MAXLEN_SCHEMA, "properties": {
        **MAXLEN_SCHEMA["properties"], "method": {"type": "string", "maxLength": 99},
    }}
    config["eventGroups"][0]["events"][0]["schema"] = wide
    rows = amp.exploded_events(
        _run_focus(spark, [fixtures.focus_event_ping()], config=config)
    ).collect()
    assert len(rows) == 4


# --- one serializer for every spec (Ping.scala:329-352) ------------------


def many_spec_config(n: int = 48, seed: int = 14) -> dict:
    """perfbench's 3-spec config plus ``n - 3`` compiled specs that never
    match, each with its own amplitudeProperties key."""
    rng = random.Random(seed)
    doc = copy.deepcopy(AMPLITUDE_CONFIG)
    never = [
        {
            "name": f"Never{k}",
            "amplitudeProperties": {f"prop_{k}": rng.choice(("value", "category", "extra.host"))},
            "schema": {
                "type": "object",
                "properties": {"method": {"enum": [f"never_{rng.randrange(10**6)}"]}},
                "required": ["method"],
            },
        }
        for k in range(n - 3)
    ]
    doc["eventGroups"].append({"eventGroupName": "never", "events": never})
    return doc


SERIALIZER_PINGS = [
    fixtures.focus_event_ping(),
    fixtures.focus_event_ping(meta={"clientId": None}),
    fixtures.focus_event_ping(
        events=[
            [1, "action", "foreground", "app"],
            [2, "action", "click", "x", "erase_x"],
            [3, "action", "click", None, "erase_y"],  # no object: Erase requires one
        ]
    ),
]


def _event_json(spark, doc, pings=SERIALIZER_PINGS):
    cfg = amp.parse_config(doc)
    return amp.exploded_events(amp.amplitude_payloads(fixtures.to_df(spark, pings), cfg))


def test_many_spec_config_serializes_like_three_specs(spark):
    three = sorted(r.event_json for r in _event_json(spark, AMPLITUDE_CONFIG).collect())
    many = sorted(r.event_json for r in _event_json(spark, many_spec_config()).collect())
    assert len(three) == 8  # 3 + 3 + 2 matched events
    assert many == three


def test_one_serializer_in_the_executed_plan(spark):
    """Both spec counts plan one to_json, outside every Filter, and the
    plan stays about flat as specs are added."""
    plans = {}
    for n, doc in ((3, AMPLITUDE_CONFIG), (48, many_spec_config())):
        plans[n] = _event_json(spark, doc)._jdf.queryExecution().executedPlan().toString()
        assert plans[n].count("StructsToJsonEvaluator") == 1, n
        nodes = [ln.lstrip(" +-:*()0123456789") for ln in plans[n].splitlines()]
        filters = [ln for ln in nodes if ln.startswith("Filter")]
        assert filters and not any("StructsToJson" in ln for ln in filters), n
    # 45 more specs add their CASE branches and property slots, about
    # 10k characters, and nothing that grows with the parse
    assert len(plans[48]) - len(plans[3]) <= 15_000


def test_general_tier_validates_each_ping_once(spark):
    """The jsonschema UDF sits in one ArrowEvalPython node: the spec
    index is projected once, below the ping filter that reads it."""
    doc = copy.deepcopy(FOCUS_CONFIG)
    doc["eventGroups"][0]["events"][0]["schema"] = MAXLEN_SCHEMA
    plan = _event_json(spark, doc)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def _shadowing(key: str) -> dict:
    doc = copy.deepcopy(FOCUS_CONFIG)
    doc["eventGroups"][0]["events"][1]["userProperties"] = {"host": "extra.host", key: "extra.host"}
    return doc


def test_user_property_shadows_context_key(spark):
    """A spec's userProperties key that names a context key replaces the
    value, in the context key's place, for that spec's events only; the
    other specs keep the context value.  In the Focus context
    pref_locale is a string and pref_secure a boolean: the shadowing
    spec emits its string and the others keep the boolean."""
    for key, ctx_value in (("pref_locale", ""), ("pref_secure", True)):
        rows = _run_focus(spark, [fixtures.focus_event_ping()], config=_shadowing(key)).collect()
        events = {e["event_type"]: e for e in map(json.loads, rows[0].events)}
        erase = events["m_foc - Erase"]["user_properties"]
        assert erase[key] == "side"
        assert list(erase).index(key) == list(EXPECTED_FOCUS_USER_PROPS).index(key)
        for other in ("m_foc - AppOpen", "second_event_group - AppClose"):
            assert events[other]["user_properties"][key] == ctx_value, (key, other)


def test_spec_dependent_parts_follow_the_matched_spec(spark):
    """Each spec keeps its own property key order and session offset,
    even where two specs list the same keys in different orders."""
    doc = copy.deepcopy(FOCUS_CONFIG)
    app_open, erase = doc["eventGroups"][0]["events"]
    app_open["amplitudeProperties"] = {"b": "method", "a": "object"}
    erase["amplitudeProperties"] = {"a": "value", "b": "extra.host"}
    doc["eventGroups"][1]["events"][0]["sessionIdOffset"] = "extra.sessionLength"
    rows = _run_focus(spark, [fixtures.focus_event_ping()], config=doc).collect()
    events = {e["event_type"]: e for e in map(json.loads, rows[0].events)}
    assert list(events["m_foc - AppOpen"]["event_properties"].items()) == [
        ("b", "foreground"),
        ("a", "app"),
    ]
    assert list(events["m_foc - Erase"]["event_properties"].items()) == [
        ("a", "erase_home"),
        ("b", "side"),
    ]
    assert events["m_foc - AppOpen"]["session_id"] == CREATED
    assert events["second_event_group - AppClose"]["session_id"] == CREATED + 1000


@pytest.mark.parametrize("ref", ["extra.nope", "category"])
def test_unusable_session_offset_counts_as_zero(spark, ref):
    """A sessionIdOffset that names a missing extra key or a
    non-number gives offset 0; ANSI cast used to abort the job."""
    doc = copy.deepcopy(FOCUS_CONFIG)
    doc["eventGroups"][0]["events"][0]["sessionIdOffset"] = ref
    rows = _run_focus(spark, [fixtures.focus_event_ping()], config=doc).collect()
    events = {e["event_type"]: e for e in map(json.loads, rows[0].events)}
    assert events["m_foc - AppOpen"]["session_id"] == CREATED
