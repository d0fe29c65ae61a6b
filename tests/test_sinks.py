"""Sink behavior against real local endpoints: an in-process HTTP
server (WireMock analog) and a UDP socket (DogStatsD analog).
Mirrors HttpSinkTest / AmplitudeHttpSinkTest / CrashesBatchHttpSinkTest
/ DogStatsDMetricTest coverage."""

import json
import socket
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from telemetry_streaming_spark.sinks.dogstatsd import format_datagram
from telemetry_streaming_spark.sinks import http as http_sinks
from telemetry_streaming_spark.sinks.http import (
    AmplitudeHttpSink,
    BatchHttpSink,
    HttpSink,
    HttpSinkConfig,
    TestTubeHttpSink,
)


@pytest.fixture()
def http_server():
    state = {"requests": [], "codes": []}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            state["requests"].append(body.decode())
            code = state["codes"].pop(0) if state["codes"] else 200
            self.send_response(code)
            self.end_headers()

        def log_message(self, *a):
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    state["url"] = f"http://127.0.0.1:{server.server_port}/"
    yield state
    server.shutdown()


def fast_config(**kw):
    kw.setdefault("base_delay_ms", 1)
    kw.setdefault("max_delay_ms", 2)
    return HttpSinkConfig(**kw)


def test_http_sink_success(http_server):
    sink = HttpSink(http_server["url"], config=fast_config())
    assert sink.send('{"a":1}')
    assert http_server["requests"] == ['{"a":1}']


def test_http_sink_retries_then_succeeds(http_server):
    http_server["codes"] = [503, 503, 200]
    sink = HttpSink(http_server["url"], config=fast_config())
    assert sink.send("x")
    assert len(http_server["requests"]) == 3
    assert sink.retries == 2


def test_http_sink_drops_unknown_code(http_server):
    http_server["codes"] = [418]
    sink = HttpSink(http_server["url"], config=fast_config())
    assert not sink.send("x")
    assert len(http_server["requests"]) == 1
    assert sink.dropped == 1


def test_http_sink_gives_up_after_max_attempts(http_server):
    http_server["codes"] = [503] * 10
    sink = HttpSink(http_server["url"], config=fast_config(max_attempts=5))
    assert not sink.send("x")
    assert len(http_server["requests"]) == 5


def test_backoff_schedule():
    sink = HttpSink("http://invalid", config=HttpSinkConfig())
    # (2^n - 1) * 500ms capped at 30s (HttpSink.scala:154-157)
    assert [sink.backoff_ms(n) for n in (1, 2, 3, 4, 5, 6, 7)] == [
        500, 1500, 3500, 7500, 15500, 30000, 30000,
    ]


def test_batch_sink_influx_format(http_server):
    sink = BatchHttpSink(http_server["url"], max_batch_size=3, config=fast_config())
    for s in ("l1", "l2", "l3", "l4"):
        sink.process(s)
    sink.close(None)
    assert http_server["requests"] == ["l1\nl2\nl3", "l4"]


def test_batch_sink_opentsdb_format(http_server):
    sink = BatchHttpSink(
        http_server["url"], max_batch_size=2, prefix="[", sep=",", suffix="]",
        config=fast_config(),
    )
    sink.process("{}")
    sink.process("{}")
    sink.close(None)
    assert http_server["requests"] == ["[{},{}]"]


def test_testtube_wrapper(http_server):
    sink = TestTubeHttpSink(http_server["url"], config=fast_config())
    sink.process('{"experiment_id":"a"}')
    assert http_server["requests"] == ['{"enrollment":[{"experiment_id":"a"}]}']


def amplitude_batches(events, **caps):
    """The event batches an AmplitudeHttpSink posts, read back from the
    request bodies a recording transport saw."""
    bodies = []

    def record(url, body, headers, timeout_s):
        bodies.append(body.decode())
        return 200

    AmplitudeHttpSink("http://example.invalid", "k", transport=record, **caps).send_events(events)
    prefix, suffix = '{"api_key":"k","events":[', "]}"
    assert all(b.startswith(prefix) and b.endswith(suffix) for b in bodies)
    return [b[len(prefix):-len(suffix)].split(",") for b in bodies]


def test_amplitude_batcher_event_cap():
    batches = amplitude_batches(["a", "b", "c"], max_batch_size=2, max_bytes=10_000)
    assert batches == [["a", "b"], ["c"]]


def test_amplitude_batcher_byte_cap():
    batches = amplitude_batches(["aa", "bb", "cc"], max_batch_size=100, max_bytes=4)
    assert batches == [["aa"], ["bb"], ["cc"]]


def test_amplitude_413_halves(http_server):
    http_server["codes"] = [413, 200, 200]
    sink = AmplitudeHttpSink(
        http_server["url"], api_key="k", config=fast_config(max_attempts=1)
    )
    sink.send_events(['{"n":1}', '{"n":2}'])
    assert len(http_server["requests"]) == 3
    first = json.loads(http_server["requests"][1])
    assert first["events"] == [{"n": 1}]


def test_amplitude_split_413_is_not_a_drop(spark):
    """A 413 whose halves are both delivered counts as payload-too-large
    only; a single event answered 413 is the drop."""
    from telemetry_streaming_spark.observability import SinkMetrics

    metrics = SinkMetrics(spark)
    codes = iter([413, 200, 200, 413])
    sink = AmplitudeHttpSink(
        "http://example.invalid", api_key="k", config=fast_config(max_attempts=1),
        transport=lambda *a: next(codes), metrics=metrics,
    )
    sink.send_events(['{"n":1}', '{"n":2}'])
    assert metrics.snapshot() == {
        "success": 2, "error": 0, "retry": 0, "payload_too_large": 1, "dropped": 0,
    }
    assert sink.dropped == 0

    sink.send_events(['{"n":3}'])
    assert metrics.value("dropped") == 1 and sink.dropped == 1


def test_dogstatsd_datagram_format():
    """DogStatsDMetricTest golden strings: name:value|type|@rate|#tags
    with [:|@] -> _ normalization."""
    assert format_datagram("page.views", "1", "c") == "page.views:1|c"
    assert format_datagram("fuel.level", "0.5", "g") == "fuel.level:0.5|g"
    assert (
        format_datagram("song.length", "240", "h", sample_rate=0.5)
        == "song.length:240|h|@0.5"
    )
    assert (
        format_datagram("users.online", "1", "c", kv_tags={"country": "china"}, sample_rate=0.5)
        == "users.online:1|c|@0.5|#country:china"
    )
    assert format_datagram("bad:name|x@y", "1", "c") == "bad_name_x_y:1|c"


def test_dogstatsd_udp_sink_sends():
    from telemetry_streaming_spark.sinks.dogstatsd import DogStatsDMetricSink

    recv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    recv.bind(("127.0.0.1", 0))
    recv.settimeout(5)
    port = recv.getsockname()[1]

    sink = DogStatsDMetricSink("127.0.0.1", port)
    assert sink.open(0, 0)
    sink.process({"name": "telemetry.x.y.z", "value": "1", "type": "c", "tags": {"a": "b"}})
    sink.close(None)
    data = recv.recv(1024).decode()
    recv.close()
    assert data == "telemetry.x.y.z:1|c|#a:b"


def test_push_partitions_rate_limited_batch(spark):
    """K11: repartition(maxParallel) + per-partition sink push; every
    row delivered exactly once through executor-side sinks."""
    from telemetry_streaming_spark.observability import SinkMetrics
    from telemetry_streaming_spark.sinks import push_partitions

    metrics = SinkMetrics(spark)
    df = spark.range(30).selectExpr("concat('row-', id) AS payload", "id % 3 AS k")

    def factory():
        return HttpSink("http://example.invalid", transport=lambda *a: 200, metrics=metrics)

    push_partitions(df.select("payload"), factory, max_parallel_requests=4, min_delay_ms=1)
    assert metrics.value("success") == 30

    metrics2 = SinkMetrics(spark)

    def factory2():
        return HttpSink("http://example.invalid", transport=lambda *a: 200, metrics=metrics2)

    push_partitions(df, factory2, max_parallel_requests=3, key_col="k")
    assert metrics2.value("success") == 30
