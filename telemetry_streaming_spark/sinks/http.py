"""HTTP sink family (K3-K6) — ForeachWriters (``sinks/__init__.py``)
with the reference's retry-and-batch semantics.

Reference: HttpSink.scala:24-196 — exponential backoff
``(2^tries - 1) * 500ms`` capped at 30s, max 5 attempts; configured
success / retry code sets; pseudo-codes -1 (timeout) and -2 (error);
unknown codes drop the record with a log line.
CrashesBatchHttpSink.scala:10-53 — string batcher with
prefix/sep/suffix and flush-at-max.  TestTubeHttpSink.scala:13-18 —
{"enrollment": [row]} wrapper.  AmplitudeHttpSink.scala:24-67 —
byte/count-capped batcher with halve-and-resend on 413.

Uses urllib from the standard library (no external deps); transport
is injectable for tests and for keeping executors network-free in CI.
"""

from __future__ import annotations

import json
import logging
import time
import urllib.error
import urllib.request
from dataclasses import dataclass

from telemetry_streaming_spark.sinks import write_partition

log = logging.getLogger(__name__)

TIMEOUT_PSEUDO_CODE = -1
ERROR_PSEUDO_CODE = -2


@dataclass
class HttpSinkConfig:
    max_attempts: int = 5
    base_delay_ms: int = 500
    max_delay_ms: int = 30_000
    connection_timeout_ms: int = 2_000
    read_timeout_ms: int = 5_000
    success_codes: frozenset[int] = frozenset({200})
    retry_codes: frozenset[int] = frozenset(
        {429, 500, 502, 503, 504, TIMEOUT_PSEUDO_CODE, ERROR_PSEUDO_CODE}
    )


def _default_transport(url: str, payload: bytes, headers: dict[str, str], timeout_s: float) -> int:
    req = urllib.request.Request(url, data=payload, headers=headers, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code
    except TimeoutError:
        return TIMEOUT_PSEUDO_CODE
    except Exception:
        return ERROR_PSEUDO_CODE


class HttpSink:
    """K3: single-payload POST with retry/backoff.

    ``transport(url, payload, headers, timeout_s) -> status`` is
    injectable; the default uses urllib.
    """

    def __init__(
        self,
        url: str,
        headers: dict[str, str] | None = None,
        config: HttpSinkConfig | None = None,
        transport=None,
        metrics=None,
    ):
        self.url = url
        self.headers = headers or {"Content-Type": "application/json"}
        self.config = config or HttpSinkConfig()
        self.transport = transport or _default_transport
        # O1: optional accumulator-backed SinkMetrics
        # (observability.py); marks mirror HttpSink.scala:66-71.
        self.metrics = metrics
        self.dropped = 0
        self.retries = 0

    def _mark(self, name: str) -> None:
        if self.metrics is not None:
            self.metrics.mark(name)

    def backoff_ms(self, tries: int) -> int:
        """(2^tries - 1) * 500ms capped at 30s (HttpSink.scala:154-157)."""
        return min((2**tries - 1) * self.config.base_delay_ms, self.config.max_delay_ms)

    def _post(self, body: bytes) -> int:
        """POST ``body``, retrying the retry codes with backoff up to
        ``max_attempts``; returns the final status."""
        cfg = self.config
        timeout_s = (cfg.connection_timeout_ms + cfg.read_timeout_ms) / 1000
        attempt = 1
        while True:
            code = self.transport(self.url, body, self.headers, timeout_s)
            if code in cfg.success_codes:
                self._mark("success")
                return code
            self._mark("payload_too_large" if code == 413 else "error")
            if code not in cfg.retry_codes or attempt >= cfg.max_attempts:
                return code
            self.retries += 1
            self._mark("retry")
            time.sleep(self.backoff_ms(attempt) / 1000)
            attempt += 1

    def _drop(self, code: int) -> None:
        log.warning("dropping payload after status %s", code)
        self.dropped += 1
        self._mark("dropped")

    def send(self, payload: str | bytes) -> bool:
        code = self._post(payload.encode() if isinstance(payload, str) else payload)
        if code in self.config.success_codes:
            return True
        self._drop(code)
        return False

    # ForeachWriter protocol (one payload string per row)
    def open(self, partition_id: int, epoch_id: int) -> bool:
        return True

    def process(self, row) -> None:
        self.send(_value(row))

    def close(self, error) -> None:
        pass


def _value(row) -> str:
    """The payload string of a one-column row (or a bare string)."""
    return row if isinstance(row, str) else row[0]


class BatchHttpSink(HttpSink):
    """K5: buffer up to ``max_batch_size`` strings (and, with
    ``max_bytes``, up to that many bytes counted as ``2*len``), join
    them with prefix/sep/suffix, flush at capacity and on close
    (CrashesBatchHttpSink.scala:10-53).  Influx: ""/\\n/"";
    OpenTSDB: "["/","/"]"."""

    def __init__(
        self,
        url: str,
        max_batch_size: int = 1,
        prefix: str = "",
        sep: str = "\n",
        suffix: str = "",
        max_bytes: int | None = None,
        **kwargs,
    ):
        super().__init__(url, **kwargs)
        self.max_batch_size = max_batch_size
        self.max_bytes = max_bytes
        self.prefix, self.sep, self.suffix = prefix, sep, suffix
        self.buffer: list[str] = []
        self.buffer_bytes = 0

    def process(self, row) -> None:
        value = _value(row)
        size = 2 * len(value)
        if self.max_bytes is not None and self.buffer and self.buffer_bytes + size > self.max_bytes:
            self.flush()
        self.buffer.append(value)
        self.buffer_bytes += size
        if len(self.buffer) >= self.max_batch_size:
            self.flush()

    def flush(self) -> None:
        if self.buffer:
            batch, self.buffer, self.buffer_bytes = self.buffer, [], 0
            self._send_batch(batch)

    def _body(self, batch: list[str]) -> str:
        return self.prefix + self.sep.join(batch) + self.suffix

    def _send_batch(self, batch: list[str]) -> None:
        self.send(self._body(batch))

    def close(self, error) -> None:
        self.flush()


class TestTubeHttpSink(HttpSink):
    """K6: wrap each JSON row as {"enrollment": [row]}
    (TestTubeHttpSink.scala:13-18)."""

    def process(self, row) -> None:
        self.send('{"enrollment":[' + _value(row) + "]}")


class AmplitudeHttpSink(BatchHttpSink):
    """K4: POST event batches of <= 2000 events and <= 512KB (sized as
    UTF-16, ``2*len``) to Amplitude (AmplitudeHttpSink.scala:43-67;
    the httpapi endpoint's caps).  Event strings are ``to_json`` output
    and are spliced into the body as they are.  An event larger than
    the byte cap still forms its own batch — the reference's span
    would loop emitting empty batches forever on that input.  On 413
    the batch is split in half and each half resent
    (AmplitudeHttpSink.scala:153-158).  Retries are unlimited in the
    reference (Int.MaxValue) — modeled with a large max_attempts."""

    def __init__(self, url: str, api_key: str, **kwargs):
        kwargs.setdefault("config", HttpSinkConfig(max_attempts=1_000_000))
        kwargs.setdefault("max_batch_size", 2000)
        kwargs.setdefault("max_bytes", 512 * 1024)
        super().__init__(
            url, prefix='{"api_key":' + json.dumps(api_key) + ',"events":[', sep=",",
            suffix="]}", **kwargs,
        )

    def send_events(self, events) -> None:
        """Deliver an iterable of event JSON strings as one partition."""
        write_partition(self, events)

    def _send_batch(self, batch: list[str]) -> None:
        code = self._post(self._body(batch).encode())
        if code == 413 and len(batch) > 1:
            mid = len(batch) // 2
            self._send_batch(batch[:mid])
            self._send_batch(batch[mid:])
        elif code not in self.config.success_codes:
            self._drop(code)
