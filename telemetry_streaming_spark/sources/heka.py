"""Heka wire-format ingestion — the reference's actual binary input.

The reference consumes Heka-framed protobuf messages (the public
mozilla-services/heka format) via the external moztelemetry library
(``com.mozilla.telemetry.heka.Message``; consumed by
``Ping.messageToPing``, Ping.scala:59-74).  SURVEY §7.3 replaced that
with JSON envelopes for the engine's tests; this module closes the
wire-format gap with a dependency-free decoder so the engine can read
the reference's real input files.

Framing (per the Heka protocol):

    0x1E <header_len:1B> <header protobuf> 0x1F <message bytes>

where the header protobuf's field 1 is ``message_length`` (varint).
The message protobuf (heka ``message.proto``):

    1 uuid(bytes) 2 timestamp(int64 ns) 3 type 4 logger 5 severity
    6 payload(string) 7 env_version 8 pid 9 hostname
    10 fields(repeated Field)
    Field: 1 name 2 value_type 3 representation
           4 value_string* 5 value_bytes* 6 value_integer*
           7 value_double* 8 value_bool*

Decoding is resync-tolerant: a corrupt region scans forward to the
next record separator, mirroring the framing's design intent.

Spark integration (:func:`read_heka`): ``binaryFile`` source — one
task per file, embarrassingly parallel over a day-partitioned S3
layout — with an Arrow-batched ``mapInPandas`` stage that explodes
each file into the engine's standard JSON ping envelopes
(``{"meta": {...fields..., "Timestamp": ns}, ...submission...}``), so
every existing job consumes Heka input unchanged.
"""

from __future__ import annotations

import json
import struct
import uuid as _uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

RECORD_SEPARATOR = 0x1E
UNIT_SEPARATOR = 0x1F

_WIRE_VARINT = 0
_WIRE_FIXED64 = 1
_WIRE_LEN = 2
_WIRE_FIXED32 = 5


# --- minimal protobuf wire codec ------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _write_varint(value: int) -> bytes:
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _signed64(value: int) -> int:
    """Protobuf int64 comes off the wire as an unsigned varint."""
    return value - (1 << 64) if value >= (1 << 63) else value


def _iter_proto_fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Yield (field_number, wire_type, value) over one message's bytes;
    length-delimited values yield the raw slice."""
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 0x7
        if wire == _WIRE_VARINT:
            v, pos = _read_varint(buf, pos)
            yield field, wire, v
        elif wire == _WIRE_FIXED64:
            if pos + 8 > len(buf):
                raise ValueError("truncated fixed64")
            yield field, wire, buf[pos : pos + 8]
            pos += 8
        elif wire == _WIRE_LEN:
            n, pos = _read_varint(buf, pos)
            if pos + n > len(buf):
                raise ValueError("truncated length-delimited field")
            yield field, wire, buf[pos : pos + n]
            pos += n
        elif wire == _WIRE_FIXED32:
            if pos + 4 > len(buf):
                raise ValueError("truncated fixed32")
            yield field, wire, buf[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")


# --- heka Field / Message decode ------------------------------------------

VALUE_STRING, VALUE_BYTES, VALUE_INTEGER, VALUE_DOUBLE, VALUE_BOOL = range(5)


def _parse_field(buf: bytes):
    """One heka Field message -> (name, first value) — the
    moztelemetry ``fieldsAsMap`` convention the reference consumes."""
    name = ""
    values: list = []
    for field, wire, v in _iter_proto_fields(buf):
        if field == 1:
            name = v.decode("utf-8", "replace")
        elif field == 4:
            values.append(v.decode("utf-8", "replace"))
        elif field == 5:
            values.append(bytes(v))
        elif field == 6:
            if wire == _WIRE_VARINT:
                values.append(_signed64(v))
            else:  # packed
                pos = 0
                while pos < len(v):
                    x, pos = _read_varint(v, pos)
                    values.append(_signed64(x))
        elif field == 7:
            if wire == _WIRE_FIXED64:
                values.append(struct.unpack("<d", v)[0])
            else:  # packed
                values.extend(
                    struct.unpack(f"<{len(v) // 8}d", v[: len(v) // 8 * 8])
                )
        elif field == 8:
            if wire == _WIRE_VARINT:
                values.append(bool(v))
            else:  # packed
                pos = 0
                while pos < len(v):
                    x, pos = _read_varint(v, pos)
                    values.append(bool(x))
    return name, (values[0] if values else None)


def parse_message(buf: bytes) -> dict:
    """One heka Message -> dict(uuid, timestamp, type, logger, payload,
    fields)."""
    msg: dict = {
        "uuid": None,
        "timestamp": 0,
        "type": None,
        "logger": None,
        "payload": None,
        "fields": {},
    }
    for field, wire, v in _iter_proto_fields(buf):
        if field == 1:
            msg["uuid"] = str(_uuid.UUID(bytes=bytes(v))) if len(v) == 16 else bytes(v).hex()
        elif field == 2:
            msg["timestamp"] = _signed64(v)
        elif field == 3:
            msg["type"] = v.decode("utf-8", "replace")
        elif field == 4:
            msg["logger"] = v.decode("utf-8", "replace")
        elif field == 6:
            msg["payload"] = v.decode("utf-8", "replace")
        elif field == 10:
            name, value = _parse_field(v)
            if name:
                msg["fields"][name] = value
    return msg


def parse_frames(data: bytes) -> Iterator[dict]:
    """Iterate heka messages in a framed stream, resyncing past
    corrupt regions (scan to the next record separator)."""
    pos = 0
    n = len(data)
    while pos < n:
        sep = data.find(RECORD_SEPARATOR, pos)
        if sep < 0:
            return
        try:
            hlen = data[sep + 1]
            header = data[sep + 2 : sep + 2 + hlen]
            msg_len = None
            for field, _, v in _iter_proto_fields(header):
                if field == 1:
                    msg_len = v
            if msg_len is None:
                raise ValueError("header missing message_length")
            upos = sep + 2 + hlen
            if data[upos] != UNIT_SEPARATOR:
                raise ValueError("missing unit separator")
            start = upos + 1
            end = start + msg_len
            if end > n:
                raise ValueError("truncated message")
            yield parse_message(data[start:end])
            pos = end
        except (ValueError, IndexError):
            pos = sep + 1  # resync at the next record separator


# --- message -> engine envelope -------------------------------------------

# Fields whose string values are nested JSON documents in telemetry
# heka records (the reference passes these as jsonFieldNames to
# messageToPing — e.g. EventsToAmplitude.scala's TOP_LEVEL_PING_FIELDS
# handling of environment/payload fragments).
DEFAULT_JSON_FIELDS = (
    "environment.build",
    "environment.settings",
    "environment.system",
    "environment.addons",
    "environment.experiments",
    "environment.profile",
    "payload.info",
    "payload.histograms",
    "payload.keyedHistograms",
    "payload.processes",
    "payload.simpleMeasurements",
)


def message_to_envelope(msg: dict, json_fields: tuple[str, ...] = DEFAULT_JSON_FIELDS) -> dict:
    """Ping.messageToPing re-expressed: meta = heka fields +
    Timestamp; the submission JSON (message payload, else the
    'submission' field) is the document root; dotted json_fields are
    parsed from strings into objects and grafted onto the root."""
    meta = dict(msg["fields"])
    meta.pop("submission", None)
    meta["Timestamp"] = msg["timestamp"]
    submission = msg["payload"] or msg["fields"].get("submission") or "{}"
    try:
        root = json.loads(submission)
        if not isinstance(root, dict):
            root = {}
    except ValueError:
        root = {}
    for dotted in json_fields:
        raw = msg["fields"].get(dotted)
        if not isinstance(raw, str):
            continue
        try:
            parsed = json.loads(raw)
        except ValueError:
            continue
        node = root
        parts = dotted.split(".")
        for p in parts[:-1]:
            nxt = node.get(p)
            if not isinstance(nxt, dict):
                nxt = {}
                node[p] = nxt
            node = nxt
        node[parts[-1]] = parsed
        meta.pop(dotted, None)
    root["meta"] = {k: v for k, v in meta.items() if not isinstance(v, bytes)}
    return root


# --- encode (round-trip tests + producing reference-format output) --------


def _field_bytes(name: str, value) -> bytes:
    out = bytearray()
    out += _write_varint((1 << 3) | _WIRE_LEN)
    nb = name.encode()
    out += _write_varint(len(nb)) + nb
    if isinstance(value, bool):
        out += _write_varint((2 << 3) | _WIRE_VARINT) + _write_varint(VALUE_BOOL)
        out += _write_varint((8 << 3) | _WIRE_VARINT) + _write_varint(int(value))
    elif isinstance(value, int):
        out += _write_varint((2 << 3) | _WIRE_VARINT) + _write_varint(VALUE_INTEGER)
        out += _write_varint((6 << 3) | _WIRE_VARINT) + _write_varint(value & ((1 << 64) - 1))
    elif isinstance(value, float):
        out += _write_varint((2 << 3) | _WIRE_VARINT) + _write_varint(VALUE_DOUBLE)
        out += _write_varint((7 << 3) | _WIRE_FIXED64) + struct.pack("<d", value)
    elif isinstance(value, bytes):
        out += _write_varint((2 << 3) | _WIRE_VARINT) + _write_varint(VALUE_BYTES)
        out += _write_varint((5 << 3) | _WIRE_LEN) + _write_varint(len(value)) + value
    else:
        vb = str(value).encode()
        out += _write_varint((2 << 3) | _WIRE_VARINT) + _write_varint(VALUE_STRING)
        out += _write_varint((4 << 3) | _WIRE_LEN) + _write_varint(len(vb)) + vb
    return bytes(out)


def encode_message(
    fields: dict,
    payload: str | None = None,
    timestamp: int = 0,
    msg_type: str = "telemetry",
    logger: str = "telemetry",
    msg_uuid: bytes | None = None,
) -> bytes:
    """One heka Message (unframed)."""
    out = bytearray()
    ub = msg_uuid if msg_uuid is not None else _uuid.uuid4().bytes
    out += _write_varint((1 << 3) | _WIRE_LEN) + _write_varint(len(ub)) + ub
    out += _write_varint((2 << 3) | _WIRE_VARINT) + _write_varint(timestamp & ((1 << 64) - 1))
    for num, s in ((3, msg_type), (4, logger)):
        sb = s.encode()
        out += _write_varint((num << 3) | _WIRE_LEN) + _write_varint(len(sb)) + sb
    if payload is not None:
        pb = payload.encode()
        out += _write_varint((6 << 3) | _WIRE_LEN) + _write_varint(len(pb)) + pb
    for name, value in fields.items():
        fb = _field_bytes(name, value)
        out += _write_varint((10 << 3) | _WIRE_LEN) + _write_varint(len(fb)) + fb
    return bytes(out)


def frame_message(message: bytes) -> bytes:
    header = _write_varint((1 << 3) | _WIRE_VARINT) + _write_varint(len(message))
    return bytes([RECORD_SEPARATOR, len(header)]) + header + bytes([UNIT_SEPARATOR]) + message


def frame_stream(messages: list[bytes]) -> bytes:
    return b"".join(frame_message(m) for m in messages)


# --- Spark source ---------------------------------------------------------

_VALUE_SCHEMA = StructType([StructField("value", StringType())])


def heka_file_to_json_lines(
    content: bytes, json_fields: tuple[str, ...] = DEFAULT_JSON_FIELDS
) -> list[str]:
    return [
        json.dumps(message_to_envelope(m, json_fields), separators=(",", ":"))
        for m in parse_frames(content)
    ]


def read_heka(
    spark: SparkSession,
    path: str | list[str],
    json_fields: tuple[str, ...] = DEFAULT_JSON_FIELDS,
) -> DataFrame:
    """Heka files under ``path`` (one path or a list, e.g. one per day)
    -> DataFrame[value: string] of engine JSON envelopes (drop-in for
    the JSON line sources every job already consumes).

    ``binaryFile`` scan: one task per file — a day-partitioned S3
    layout parallelizes across the cluster; the protobuf decode is
    Arrow-batched Python (mapInPandas) because the wire format is
    bespoke, and yields per file, so a large file streams through as
    one pandas batch per source row without driver involvement."""

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                lines = heka_file_to_json_lines(bytes(content), json_fields)
                if lines:
                    yield pd.DataFrame({"value": lines})

    files = spark.read.format("binaryFile").load(path).select("content")
    return files.mapInPandas(decode, _VALUE_SCHEMA)
