"""Seeded synthetic telemetry pings and their Heka framing.

A "day" is a fixed mix of main / crash / core / focus-event pings with
a fixed share of ErrorAggregator allow-list misses and reject-rule
hits.  Every ping the generator emits is accounted for in
:class:`Expected`, so the benchmark can check the job outputs exactly.

Heka layout follows the reference's telemetry records: ping ``meta``
goes into Heka fields (``Timestamp`` into the message timestamp),
each ``environment.*`` sub-document into a JSON-string field, and the
rest of the document into the message payload.  ``meta_in_payload``
builds the broken layout (meta inside the payload) that silently
aggregates to zero rows; the self-check uses it to prove such input is
reported as failed.
"""

from __future__ import annotations

import json
import os
import random
import struct
from dataclasses import dataclass, field

DAY = "20240301"
DAY_START_NS = 1709251200 * 10**9  # 2024-03-01T00:00:00Z
GOOD_BUILD_ID = "20240215000000"
STALE_BUILD_ID = "20230101000000"  # > 6 months before DAY: reject rule

MIX = (("main", 0.45), ("crash", 0.15), ("core", 0.15), ("focus-event", 0.25))
ALLOW_MISS_SHARE = 0.05
REJECT_SHARE = 0.05

COUNTRIES = ("US", "DE", "FR", "IT", "BR", "IN", "JP", "CA")
CHANNELS = ("release", "beta", "nightly")
VERSIONS = ("123.0", "124.0")
EXPERIMENTS = ("exp-a", "exp-b", "exp-c")
BRANCHES = ("control", "treatment")

FOCUS_EVENTS_FULL = [
    [176078022, "action", "foreground", "app"],
    [176127806, "action", "type_query", "search_bar"],
    [176151285, "action", "click", "back_button", "erase_home", {"host": "side"}],
    [176151591, "action", "background", "app", "", {"sessionLength": "1000"}],
]
FOCUS_EVENTS_SHORT = [FOCUS_EVENTS_FULL[0], FOCUS_EVENTS_FULL[3]]

# EventsToAmplitude config: AppOpen (foreground), Erase (erase_*
# value), AppClose (background).  FULL pings match 3 events, SHORT 2.
_BASE_PROPS = {
    "timestamp": {"type": "number", "minimum": 0},
    "category": {"type": "string", "enum": ["action"]},
    "object": {"type": "string", "enum": ["app"]},
}
AMPLITUDE_CONFIG = {
    "source": "telemetry",
    "filters": {"docType": ["focus-event"], "appName": ["Focus"]},
    "eventGroups": [
        {
            "eventGroupName": "m_foc",
            "events": [
                {
                    "name": "AppOpen",
                    "description": "",
                    "schema": {
                        "type": "object",
                        "properties": {**_BASE_PROPS, "method": {"type": "string", "enum": ["foreground"]}},
                        "required": ["timestamp", "category", "method", "object"],
                    },
                },
                {
                    "name": "Erase",
                    "description": "",
                    "amplitudeProperties": {"erase_object": "value"},
                    "userProperties": {"host": "extra.host"},
                    "schema": {
                        "type": "object",
                        "properties": {
                            "timestamp": {"type": "number", "minimum": 0},
                            "category": {"type": "string"},
                            "method": {"type": "string"},
                            "object": {"type": "string"},
                            "value": {"type": "string", "pattern": "^erase"},
                        },
                        "required": ["timestamp", "category", "method", "object", "value"],
                    },
                },
                {
                    "name": "AppClose",
                    "description": "",
                    "amplitudeProperties": {"session_length": "extra.sessionLength"},
                    "schema": {
                        "type": "object",
                        "properties": {**_BASE_PROPS, "method": {"type": "string", "enum": ["background"]}},
                        "required": ["timestamp", "category", "method", "object"],
                    },
                },
            ],
        }
    ],
}


@dataclass
class Expected:
    """What ErrorAggregator and EventsToAmplitude must output for a
    generated set of pings."""

    pings: int = 0
    by_doc_type: dict[str, int] = field(default_factory=dict)
    allow_misses: int = 0
    rejects: int = 0
    accepted: int = 0  # pass the allow-list and no reject rule
    count: int = 0  # sum of the `count` stat: accepted x experiment fan-out
    main_crashes: int = 0
    usage_hours: float = 0.0
    amplitude_events: int = 0

    def add(self, other: "Expected") -> None:
        for k in ("pings", "allow_misses", "rejects", "accepted", "count", "main_crashes",
                  "amplitude_events"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.usage_hours += other.usage_hours
        for k, v in other.by_doc_type.items():
            self.by_doc_type[k] = self.by_doc_type.get(k, 0) + v

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def _meta(rng: random.Random, doc_type: str, app: str, ts_ns: int, i: int) -> dict:
    return {
        "Timestamp": ts_ns,
        "docType": doc_type,
        "documentId": f"doc-{i}",
        "appName": app,
        "appVersion": rng.choice(VERSIONS),
        "appBuildId": GOOD_BUILD_ID,
        "normalizedChannel": rng.choice(CHANNELS),
        "clientId": f"client-{rng.randrange(5000)}",
        "sampleId": float(rng.randrange(100)),
        "geoCountry": rng.choice(COUNTRIES),
        "geoCity": "City",
        "submissionDate": DAY,
    }


def _environment(rng: random.Random) -> tuple[dict, int]:
    """Desktop environment and its experiment fan-out (new-style
    experiments + old-style activeExperiment + the all-up slice)."""
    n_new = rng.randrange(3)
    new = rng.sample(EXPERIMENTS, n_new)
    old = rng.random() < 0.3
    env = {
        "build": {
            "architecture": rng.choice(("x86", "x86-64")),
            "buildId": GOOD_BUILD_ID,
            "version": rng.choice(VERSIONS),
            "displayVersion": "124.0b1",
        },
        "system": {"os": {"name": rng.choice(("Linux", "Windows_NT", "Darwin")), "version": "10.0"}},
        "settings": {"locale": "en-US", "isDefaultBrowser": True},
        "addons": {"activeExperiment": {"id": "legacy-exp", "branch": "control"}} if old else {},
        "experiments": {e: {"branch": rng.choice(BRANCHES)} for e in new},
    }
    return env, n_new + int(old) + 1


def make_ping(rng: random.Random, i: int, ts_ns: int) -> tuple[dict, Expected]:
    """One ping document (meta + environment + payload) and what it
    contributes to the expected outputs."""
    r = rng.random()
    for doc_type, share in MIX:
        if r < share:
            break
        r -= share
    exp = Expected(pings=1, by_doc_type={doc_type: 1})
    if doc_type == "focus-event":
        full = rng.random() < 0.7
        ping = {
            "meta": _meta(rng, "focus-event", "Focus", ts_ns, i),
            "payload": {
                "v": 1, "seq": i, "locale": "en-US", "os": "Android", "osversion": "23",
                "created": 1709251200000,
                "settings": {"pref_privacy_block_ads": "true", "pref_search_engine": "custom"},
                "mobileEvents": FOCUS_EVENTS_FULL if full else FOCUS_EVENTS_SHORT,
            },
        }
        ping["meta"]["sampleId"] = 50.0
        exp.amplitude_events = 3 if full else 2
        exp.allow_misses = 1  # not an ErrorAggregator doc type
        return ping, exp

    if doc_type == "core":
        ping = {
            "meta": _meta(rng, "core", "Fennec", ts_ns, i),
            "payload": {
                "arch": "arm64-v8a", "os": "Android", "osversion": "13",
                "durations": 3600 * rng.randrange(1, 4), "seq": i, "displayVersion": "124.0",
            },
        }
        fan_out = 1
        hours = ping["payload"]["durations"] / 3600
    else:
        env, fan_out = _environment(rng)
        app = rng.choice(("Firefox", "Fennec"))
        ping = {"meta": _meta(rng, doc_type, app, ts_ns, i), "environment": env}
        if doc_type == "main":
            length = 3600 * rng.randrange(1, 5)
            ping["payload"] = {
                "info": {"subsessionLength": length, "subsessionCounter": 1},
                "histograms": {"BROWSER_SHIM_USAGE_BLOCKED": {"values": {"0": rng.randrange(3)}}},
                "keyedHistograms": {
                    "SUBPROCESS_CRASHES_WITH_DUMP": {"gpu": {"values": {"0": rng.randrange(2)}}},
                },
                "simpleMeasurements": {"activeTicks": 275},
            }
            hours = length / 3600
        else:
            ping["payload"] = {
                "crashDate": "2024-03-01",
                "processType": rng.choice(("main", "content", None)),
                "metadata": {"StartupCrash": rng.choice(("0", "1"))},
            }
            hours = 0.0

    r = rng.random()
    if r < ALLOW_MISS_SHARE:
        # allow-list miss: intentional filtering, never a parse failure
        if rng.random() < 0.5:
            ping["meta"]["appName"] = "Thunderbird"
        else:
            ping["meta"]["normalizedChannel"] = "Other"
        exp.allow_misses = 1
        return ping, exp
    if r < ALLOW_MISS_SHARE + REJECT_SHARE:
        # reject rule hit on an allow-listed ping
        if doc_type == "main":
            del ping["payload"]["info"]["subsessionLength"]
        elif doc_type == "crash":
            ping["payload"]["processType"] = "gpu"
        elif doc_type == "core":
            ping["payload"]["os"] = "iOS"
        exp.rejects = 1
        return ping, exp
    exp.accepted = 1
    exp.count = fan_out
    exp.usage_hours = hours * fan_out
    if doc_type == "crash" and ping["payload"]["processType"] in ("main", None):
        exp.main_crashes = fan_out
    return ping, exp


def make_pings(seed: int, n: int, start_ns: int = DAY_START_NS, span_s: float = 86400.0,
               first_index: int = 0) -> tuple[list[dict], Expected]:
    rng = random.Random(seed)
    total = Expected()
    out = []
    for k in range(n):
        ts_ns = start_ns + int(span_s * 1e9 * k / max(n, 1))
        ping, exp = make_ping(rng, first_index + k, ts_ns)
        out.append(ping)
        total.add(exp)
    return out, total


# --- Heka framing (independent of the engine's own encoder) ----------------


def _varint(v: int) -> bytes:
    out = bytearray()
    v &= (1 << 64) - 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _len_field(num: int, data: bytes) -> bytes:
    return _varint((num << 3) | 2) + _varint(len(data)) + data


def _heka_field(name: str, value) -> bytes:
    body = _len_field(1, name.encode())
    if isinstance(value, bool):
        body += _varint(2 << 3) + _varint(4) + _varint(8 << 3) + _varint(int(value))
    elif isinstance(value, int):
        body += _varint(2 << 3) + _varint(2) + _varint(6 << 3) + _varint(value)
    elif isinstance(value, float):
        body += _varint(2 << 3) + _varint(3) + _varint((7 << 3) | 1) + struct.pack("<d", value)
    else:
        body += _varint(2 << 3) + _varint(0) + _len_field(4, str(value).encode())
    return _len_field(10, body)


def heka_record(ping: dict, index: int, meta_in_payload: bool = False) -> bytes:
    """One framed Heka message for ``ping``."""
    doc = dict(ping)
    meta = dict(doc.pop("meta"))
    ts = meta.pop("Timestamp")
    env = doc.pop("environment", None)
    fields = {} if meta_in_payload else meta
    if meta_in_payload:
        doc["meta"] = meta
    msg = bytearray()
    msg += _len_field(1, index.to_bytes(16, "big"))
    msg += _varint(2 << 3) + _varint(ts)
    msg += _len_field(3, b"telemetry") + _len_field(4, b"telemetry")
    msg += _len_field(6, json.dumps(doc, separators=(",", ":")).encode())
    for name, value in fields.items():
        msg += _heka_field(name, value)
    for name, sub in (env or {}).items():
        msg += _heka_field(f"environment.{name}", json.dumps(sub, separators=(",", ":")))
    header = _varint(1 << 3) + _varint(len(msg))
    return bytes([0x1E, len(header)]) + header + bytes([0x1F]) + bytes(msg)


def write_heka_day(path: str, seed: int, n_pings: int, n_files: int,
                   meta_in_payload: bool = False) -> Expected:
    """Write ``n_files`` Heka files holding one seeded day of pings."""
    os.makedirs(path, exist_ok=True)
    pings, expected = make_pings(seed, n_pings)
    per_file = -(-n_pings // n_files)
    for f in range(n_files):
        chunk = pings[f * per_file:(f + 1) * per_file]
        with open(os.path.join(path, f"part-{f:03d}.heka"), "wb") as fh:
            fh.write(b"".join(heka_record(p, f * per_file + k, meta_in_payload)
                              for k, p in enumerate(chunk)))
    return expected
