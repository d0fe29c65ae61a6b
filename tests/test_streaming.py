"""Streaming-semantics tests (SURVEY §2.8 W1-W11, §5 layers 4/6).

The reference's streaming e2e tests feed Kafka and use a
StreamingQueryListener + the "send a later message twice" trick to
push the watermark past a window boundary and force the append-mode
parquet flush (ErrorAggregatorTest.scala:270-344).  We reproduce the
same mechanics with a text-file source: dropping a file into the
watched directory ≙ producing to the topic.

Golden *values* are asserted via the batch path (same transform fns);
streaming tests assert mechanics — emission timing, watermark
advancement, state-bounded dedup — per SURVEY §7.4 risk 1.
"""

import json
import os
import time
import uuid
from urllib.parse import urlparse

import pyspark.sql.functions as F
import pytest

from telemetry_streaming_spark.jobs import error_aggregator
from telemetry_streaming_spark.streaming.core import (
    CollectingListener,
    checkpoint_path,
    drain,
    stop_quietly,
    text_file_source,
)
from tests.fixtures import TEST_TIMESTAMP_NS, main_ping, to_df

HOUR_NS = 3_600_000_000_000


def _write_lines(dir_path: str, lines: list[str]) -> None:
    os.makedirs(dir_path, exist_ok=True)
    tmp = os.path.join(dir_path, f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(dir_path, f"{uuid.uuid4().hex}.txt"))


@pytest.fixture
def stream_dirs(tmp_path):
    return {
        "in": str(tmp_path / "in"),
        "out": str(tmp_path / "out"),
        "ckpt": checkpoint_path("test_stream", str(tmp_path / "ckpt")),
    }


def test_checkpoint_path_convention(tmp_path):
    """W7: {root}/{JobName} (StreamingJobBase.scala:73-77)."""
    assert checkpoint_path("ErrorAggregator", "/tmp/checkpoints") == (
        "/tmp/checkpoints/ErrorAggregator"
    )


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_error_aggregator_append_flush_on_watermark(spark, stream_dirs):
    """K1/W1/W3/W5 e2e: 5-min windows flush to parquet only after a
    later event pushes the 1-min watermark past window end — the
    reference's double-send orchestration
    (ErrorAggregatorTest.scala:290-328)."""
    first_batch = [main_ping() for _ in range(3)]
    _write_lines(stream_dirs["in"], first_batch)
    os.makedirs(stream_dirs["out"], exist_ok=True)

    raw = text_file_source(spark, stream_dirs["in"])
    query = error_aggregator.write_streaming(
        raw, stream_dirs["out"], stream_dirs["ckpt"]
    )
    try:
        drain(query)
        # watermark still at epoch after first batch -> nothing emitted
        early = [f for f in os.listdir(stream_dirs["out"]) if f.startswith("submission")]
        # (dir may not even have partition dirs yet)

        # a ping 2 hours later, sent twice (watermark updates at end of
        # batch N; the flush happens in batch N+1 — exactly the
        # reference's trick, comment at ErrorAggregatorTest.scala:308-312)
        late = main_ping(meta={"Timestamp": TEST_TIMESTAMP_NS + 2 * HOUR_NS})
        _write_lines(stream_dirs["in"], [late])
        drain(query)
        _write_lines(stream_dirs["in"], [late])
        drain(query)
    finally:
        stop_quietly(query)

    got = spark.read.parquet(stream_dirs["out"])
    # the first window (3 pings x 2 experiment slices: old-style
    # experiment1 + the (null,null) fan-out row) must have flushed
    flushed = got.collect()
    assert len(flushed) >= 2
    sums = {
        (r.experiment_id, r.experiment_branch): r["count"]
        for r in flushed
        if r.usage_hours is not None and r["count"] == 3
    }
    assert ("experiment1", "control") in sums
    # streaming result == batch result for the flushed window
    batch = (
        error_aggregator.aggregate(to_df(spark, first_batch))[0]
        .select("window_start", "experiment_id", "count")
        .collect()
    )
    batch_counts = {(r.experiment_id): r["count"] for r in batch}
    for r in flushed:
        if r["count"] == 3:
            assert batch_counts.get(r.experiment_id) == 3


def test_listener_observes_progress_and_watermark(spark, stream_dirs):
    """W11: StreamingQueryListener sees per-batch input rows and the
    advancing event-time watermark."""
    listener = CollectingListener()
    spark.streams.addListener(listener)
    _write_lines(stream_dirs["in"], [main_ping() for _ in range(4)])

    raw = text_file_source(spark, stream_dirs["in"])
    agg, _ = error_aggregator.aggregate(raw)
    query = (
        agg.writeStream.queryName(f"listener_test_{uuid.uuid4().hex[:8]}")
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    try:
        drain(query)
        _write_lines(
            stream_dirs["in"],
            [main_ping(meta={"Timestamp": TEST_TIMESTAMP_NS + HOUR_NS})],
        )
        drain(query)
        deadline = time.time() + 10
        while listener.total_input_rows < 5 and time.time() < deadline:
            time.sleep(0.2)
        assert listener.total_input_rows == 5
        wms = [p["watermark"] for p in listener.progress if p.get("watermark")]
        assert wms, "no watermark observed in progress events"
        # watermark eventually reflects the late event minus 1 minute
        assert any(w >= "2016-04-07T03:14" for w in wms)
    finally:
        stop_quietly(query)
        spark.streams.removeListener(listener)


def test_streaming_dedup_exact_within_watermark(spark, stream_dirs):
    """Extension: exact streaming dedup with watermark-bounded state —
    replayed insert_ids within the horizon are dropped."""
    from telemetry_streaming_spark.operators.dedup import streaming_dedup_exact

    base = int(TEST_TIMESTAMP_NS // 1_000_000_000)
    rows1 = [
        json.dumps({"insert_id": f"id-{i}", "ts_s": base + i}) for i in range(5)
    ]
    # replay ids 0-2 plus two fresh ids
    rows2 = [
        json.dumps({"insert_id": f"id-{i}", "ts_s": base + i}) for i in range(3)
    ] + [json.dumps({"insert_id": f"id-{i}", "ts_s": base + i}) for i in (7, 8)]
    _write_lines(stream_dirs["in"], rows1)

    raw = text_file_source(spark, stream_dirs["in"])
    parsed = raw.select(
        F.get_json_object("value", "$.insert_id").alias("insert_id"),
        F.timestamp_seconds(
            F.get_json_object("value", "$.ts_s").cast("long")
        ).alias("timestamp"),
    )
    deduped = streaming_dedup_exact(parsed, key_cols=("insert_id",))
    name = f"dedup_test_{uuid.uuid4().hex[:8]}"
    query = (
        deduped.writeStream.queryName(name)
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    try:
        drain(query)
        _write_lines(stream_dirs["in"], rows2)
        drain(query)
        got = spark.sql(f"SELECT insert_id FROM {name}").collect()
        ids = sorted(r.insert_id for r in got)
        assert ids == sorted({f"id-{i}" for i in list(range(5)) + [7, 8]})
    finally:
        stop_quietly(query)


@pytest.fixture()
def live_http_server():
    """In-driver HTTP server; executor Python workers POST to it over
    loopback, so delivered bodies are collected server-side (the only
    side visible across process boundaries)."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    state = {"requests": []}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            state["requests"].append(body.decode())
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    state["url"] = f"http://127.0.0.1:{server.server_port}/"
    yield state
    server.shutdown()


def test_events_to_amplitude_streaming_e2e(spark, stream_dirs, live_http_server):
    """Streaming EventsToAmplitude: file-source pings -> config-compiled
    match/projection -> real Amplitude HTTP sink; asserts the delivered
    JSON payloads (EventsToAmplitudeTest.scala:226-381's mock-server
    assertions, Kafka replaced by the file source)."""
    from telemetry_streaming_spark.jobs import events_to_amplitude as amp_mod
    from telemetry_streaming_spark.sinks.http import AmplitudeHttpSink, HttpSinkConfig
    from tests.fixtures import focus_event_ping
    from tests.test_events_to_amplitude import FOCUS_CONFIG

    cfg = amp_mod.parse_config(FOCUS_CONFIG)
    _write_lines(stream_dirs["in"], [focus_event_ping()])
    raw = text_file_source(spark, stream_dirs["in"])
    payloads = amp_mod.amplitude_payloads(raw, cfg)
    url = live_http_server["url"]

    def handle(batch_df, _epoch):
        events = amp_mod.exploded_events(batch_df)

        def run(rows):
            evs = [r.event_json for r in rows]
            if evs:
                AmplitudeHttpSink(
                    url, "test-api-key",
                    config=HttpSinkConfig(base_delay_ms=1, max_delay_ms=2),
                ).send_events(evs)

        events.foreachPartition(run)

    q = (
        payloads.writeStream.foreachBatch(handle)
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    try:
        drain(q)
    finally:
        stop_quietly(q)

    bodies = [json.loads(b) for b in live_http_server["requests"]]
    assert bodies, "no HTTP deliveries"
    assert all(b["api_key"] == "test-api-key" for b in bodies)
    delivered = [e for b in bodies for e in b["events"]]
    assert sorted(e["event_type"] for e in delivered) == [
        "m_foc - AppOpen",
        "m_foc - Erase",
        "second_event_group - AppClose",
    ]
    for e in delivered:
        assert e["device_id"] == "client1"
        assert e["user_properties"]["pref_privacy_block_ads"] is True


def test_crashes_streaming_to_influx_e2e(spark, stream_dirs, live_http_server):
    """Streaming crash pipeline: file-source crash pings -> influx line
    protocol -> batch HTTP sink; asserts the delivered line-protocol
    bodies (CrashPingStreamingBaseTest.scala:121-168's mock-server
    assertions)."""
    from telemetry_streaming_spark.jobs import crashes
    from telemetry_streaming_spark.sinks.http import BatchHttpSink, HttpSinkConfig
    from tests.fixtures import crash_ping

    _write_lines(stream_dirs["in"], [crash_ping(), crash_ping(fennec=True)])
    raw = text_file_source(spark, stream_dirs["in"])
    lines = crashes.to_influx(
        raw, measurement_name="crashes", app_names=("Firefox", "Fennec")
    )
    url = live_http_server["url"]

    def handle(batch_df, _epoch):
        def run(rows):
            sink = BatchHttpSink(
                url, max_batch_size=100,
                config=HttpSinkConfig(base_delay_ms=1, max_delay_ms=2),
            )
            for r in rows:
                sink.process(r)
            sink.close(None)

        batch_df.foreachPartition(run)

    q = (
        lines.writeStream.foreachBatch(handle)
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    try:
        drain(q)
    finally:
        stop_quietly(q)

    delivered = [
        ln for body in live_http_server["requests"] for ln in body.splitlines() if ln
    ]
    assert len(delivered) == 2
    for ln in delivered:
        assert ln.startswith("crashes,")
        assert f" {TEST_TIMESTAMP_NS}" in ln  # ns timestamp field
        assert "submissionDate=20170101" in ln
        assert " buildId=20170101000000" in ln
    # the Fennec row exercises the OS fix-up (Fennec/Linux -> Android)
    assert any("appName=Fennec" in ln and "osName=Android" in ln for ln in delivered)


def _run_streaming_job(spark, argv, feed=None, timeout=120):
    """Run the CLI streaming job ``argv`` in a thread.  With ``feed``,
    wait for the job's query in ``spark.streams.active``, call
    ``feed(query)``, then stop the query; without it, wait for the job
    to end by itself.  Returns what ``main`` raised, or None."""
    import threading

    from telemetry_streaming_spark.cli import main

    errors = []

    def run():
        try:
            main(argv, spark=spark)
        except Exception as e:
            errors.append(e)

    def active():
        return [q for q in spark.streams.active if q.name == argv[0]]

    thread = threading.Thread(target=run, daemon=True)
    thread.start()
    deadline = time.time() + timeout
    if feed is not None:
        while not active() and thread.is_alive() and time.time() < deadline:
            time.sleep(0.1)
        for q in active():
            try:
                feed(q)
            finally:
                q.stop()
    thread.join(max(deadline - time.time(), 1))
    if thread.is_alive():
        for q in active():
            q.stop()
        thread.join(30)
        pytest.fail(f"{argv[0]} did not finish")
    return errors[0] if errors else None


def _text_rows(spark, path: str) -> list[str]:
    return [r.value for r in spark.read.text(path).collect()]


def test_cli_crashes_to_influx_streaming_url(spark, stream_dirs, live_http_server):
    """crashes_to_influx --stream-input --url delivers line-protocol
    bodies through the foreach sink."""
    from tests.fixtures import crash_ping

    _write_lines(stream_dirs["in"], [crash_ping(), crash_ping()])
    err = _run_streaming_job(spark, [
        "crashes_to_influx", "--stream-input", stream_dirs["in"],
        "--url", live_http_server["url"], "--checkpoint-path", stream_dirs["ckpt"],
    ], feed=drain)
    assert err is None
    delivered = [ln for b in live_http_server["requests"] for ln in b.splitlines() if ln]
    assert len(delivered) == 2
    assert all(ln.startswith("crashes,") and f" {TEST_TIMESTAMP_NS}" in ln for ln in delivered)


def test_cli_crashes_to_influx_streaming_output_path(spark, stream_dirs):
    from tests.fixtures import crash_ping

    _write_lines(stream_dirs["in"], [crash_ping()])
    err = _run_streaming_job(spark, [
        "crashes_to_influx", "--stream-input", stream_dirs["in"],
        "--output-path", stream_dirs["out"], "--checkpoint-path", stream_dirs["ckpt"],
    ], feed=drain)
    assert err is None
    lines = _text_rows(spark, stream_dirs["out"])
    assert len(lines) == 1 and lines[0].startswith("crashes,")


def test_cli_events_to_amplitude_streaming_output_path(spark, stream_dirs, tmp_path):
    from tests.fixtures import focus_event_ping
    from tests.test_events_to_amplitude import FOCUS_CONFIG

    config = tmp_path / "focus.json"
    config.write_text(json.dumps(FOCUS_CONFIG))
    _write_lines(stream_dirs["in"], [focus_event_ping()])
    err = _run_streaming_job(spark, [
        "events_to_amplitude", "--stream-input", stream_dirs["in"], "--config", str(config),
        "--output-path", stream_dirs["out"], "--checkpoint-path", stream_dirs["ckpt"],
    ], feed=drain)
    assert err is None
    events = [json.loads(e) for e in _text_rows(spark, stream_dirs["out"])]
    assert sorted(e["event_type"] for e in events) == [
        "m_foc - AppOpen",
        "m_foc - Erase",
        "second_event_group - AppClose",
    ]


def _files_per_batch(out: str) -> list[list[str]]:
    """The files the file sink committed in each micro-batch, read from
    its ``_spark_metadata`` log (one entry per batch)."""
    log = os.path.join(out, "_spark_metadata")
    batches = []
    for name in sorted((n for n in os.listdir(log) if n.isdigit()), key=int):
        with open(os.path.join(log, name)) as f:
            entries = f.read().splitlines()[1:]  # after the "v1" header
        batches.append([os.path.relpath(urlparse(json.loads(e)["path"]).path, out)
                        for e in entries])
    return batches


def _enrollment_double_send(dir_path: str):
    """Writes one normandy-enroll event ping (ExpA, branch six) and
    returns the feed of the reference's double-send trick
    (ErrorAggregatorTest.scala:299-324): the same ping an hour later,
    sent twice, moves the watermark past the first window."""
    from tests.fixtures import event_ping

    ev = [5, "normandy", "enroll", "preference_study", "ExpA", {"branch": "six"}]
    later = event_ping(events={"dynamic": [ev]}, meta={"Timestamp": TEST_TIMESTAMP_NS + HOUR_NS})
    _write_lines(dir_path, [event_ping(events={"dynamic": [ev]})])

    def feed(query):
        drain(query)
        for _ in range(2):
            _write_lines(dir_path, [later])
            drain(query)

    return feed


def test_cli_enrollments_to_testtube_streaming_url(spark, stream_dirs, live_http_server):
    """enrollments_to_testtube --stream-input delivers a window once the
    watermark passes it: a ping an hour later, sent twice, moves the
    watermark (ErrorAggregatorTest.scala:299-324's trick)."""
    feed = _enrollment_double_send(stream_dirs["in"])
    err = _run_streaming_job(spark, [
        "enrollments_to_testtube", "--stream-input", stream_dirs["in"],
        "--url", live_http_server["url"], "--checkpoint-path", stream_dirs["ckpt"],
    ], feed=feed)
    assert err is None
    bodies = [json.loads(b) for b in live_http_server["requests"]]
    assert [len(b["enrollment"]) for b in bodies] == [1]
    row = bodies[0]["enrollment"][0]
    assert (row["experiment_id"], row["enroll_count"]) == ("ExpA", 1)
    assert row["window_start"] == 1460036100000  # 2016-04-07 13:35 UTC


@pytest.mark.parametrize("job", ["event_ping_events", "experiment_enrollments"])
def test_cli_parquet_job_streaming_layout(spark, stream_dirs, job):
    """The parquet ETL jobs stream through the K1 sink: date-partitioned
    output, one parquet file per micro-batch that emits rows."""
    feed = _enrollment_double_send(stream_dirs["in"])
    err = _run_streaming_job(spark, [
        job, "--stream-input", stream_dirs["in"],
        "--output-path", stream_dirs["out"], "--checkpoint-path", stream_dirs["ckpt"],
    ], feed=feed)
    assert err is None
    written = [b for b in _files_per_batch(stream_dirs["out"]) if b]
    assert all(len(b) == 1 for b in written)
    assert all(b[0].startswith("submission_date_s3=20160407/") for b in written)
    got = spark.read.parquet(stream_dirs["out"]).collect()
    if job == "event_ping_events":
        # stateless: every input file is its own data micro-batch
        assert len(written) == 3 and len(got) == 3
    else:
        # only the first window has closed
        assert len(written) == 1
        assert [(r.experiment_id, r.enroll_count) for r in got] == [("ExpA", 1)]


def test_cli_uptake_to_datadog_streaming_statsd_guard(spark, stream_dirs):
    """uptake_to_datadog --stream-input --statsd-host --raise-on-error:
    the parse_guard observation rides the foreach sink's query, so a
    malformed row still raises."""
    import socket

    from telemetry_streaming_spark.observability import ParseRejectionError

    _write_lines(stream_dirs["in"], [main_ping(), "not-json"])
    recv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    recv.bind(("127.0.0.1", 0))
    try:
        err = _run_streaming_job(spark, [
            "uptake_to_datadog", "--stream-input", stream_dirs["in"],
            "--statsd-host", "127.0.0.1", "--statsd-port", str(recv.getsockname()[1]),
            "--checkpoint-path", stream_dirs["ckpt"], "--raise-on-error",
        ])
    finally:
        recv.close()
    assert isinstance(err, ParseRejectionError)


def test_asof_enrich_streaming_e2e(spark, stream_dirs):
    """Extension: streaming as-of enrichment — events from a file
    stream pick up the dimension version live at their event time via
    the broadcast sorted-history probe (no window functions, append
    mode, stateless)."""
    from telemetry_streaming_spark.operators.joins import asof_enrich

    base = int(TEST_TIMESTAMP_NS // 1_000_000_000)
    dim = spark.createDataFrame(
        [("u1", base - 100, "v1"), ("u1", base + 5, "v2"), ("u2", base - 50, "v9")],
        "k string, vts long, version string",
    ).select("k", F.timestamp_seconds("vts").alias("vts"), "version")

    rows = [
        json.dumps({"k": "u1", "ts_s": base}),        # before v2 -> v1
        json.dumps({"k": "u1", "ts_s": base + 10}),   # after v2 -> v2
        json.dumps({"k": "u2", "ts_s": base}),        # -> v9
        json.dumps({"k": "u3", "ts_s": base}),        # no dim -> null
    ]
    _write_lines(stream_dirs["in"], rows)

    raw = text_file_source(spark, stream_dirs["in"])
    events = raw.select(
        F.get_json_object("value", "$.k").alias("k"),
        F.timestamp_seconds(F.get_json_object("value", "$.ts_s").cast("long")).alias("ts"),
    )
    enriched = asof_enrich(events, dim, left_on="k", left_ts="ts", right_ts="vts")

    name = f"asof_enrich_{uuid.uuid4().hex[:8]}"
    query = (
        enriched.writeStream.queryName(name)
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    try:
        drain(query)
        got = {
            (r.k, int(r.ts.timestamp())): r.version
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert got == {
            ("u1", base): "v1",
            ("u1", base + 10): "v2",
            ("u2", base): "v9",
            ("u3", base): None,
        }
    finally:
        stop_quietly(query)


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_interval_join_stream_stream_e2e(spark, stream_dirs, tmp_path):
    """Extension: stream-stream interval join — purchase-attribution
    pairs from two live streams, state bounded by watermark + the
    time-range condition.  Pairs must equal the batch interval_join
    on the same rows."""
    from telemetry_streaming_spark.operators.joins import interval_join, interval_join_stream

    base = int(TEST_TIMESTAMP_NS // 1_000_000_000)
    purchases = [("p1", "u1", base), ("p2", "u2", base + 100)]
    follows = [
        ("f1", "u1", base + 60),      # within u1's hour
        ("f2", "u1", base + 4000),    # outside the hour
        ("f3", "u2", base + 150),     # within u2's hour
        ("f4", "u3", base + 10),      # no purchase for u3
    ]
    iv_dir, pt_dir = str(tmp_path / "iv_in"), str(tmp_path / "pt_in")
    _write_lines(iv_dir, [json.dumps({"pid": p, "k": k, "ts_s": t}) for p, k, t in purchases])
    _write_lines(pt_dir, [json.dumps({"fid": f, "k": k, "ts_s": t}) for f, k, t in follows])

    def parse(src, id_name):
        return src.select(
            F.get_json_object("value", "$." + id_name).alias(id_name),
            F.get_json_object("value", "$.k").alias("k"),
            F.timestamp_seconds(F.get_json_object("value", "$.ts_s").cast("long")).alias("ts"),
        )

    iv = (
        parse(text_file_source(spark, iv_dir), "pid")
        .withColumn("ts_end", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withWatermark("ts", "0 seconds")
    )
    pt = parse(text_file_source(spark, pt_dir), "fid").withWatermark("ts", "0 seconds")
    joined = interval_join_stream(
        pt, iv, point_on="k", point_ts="ts",
        interval_start="ts", interval_end="ts_end",
        closed="right", point_prefix="f_",
    )

    name = f"ssj_{uuid.uuid4().hex[:8]}"
    query = (
        joined.writeStream.queryName(name)
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    try:
        drain(query)
        got = sorted(
            (r.pid, r.f_fid) for r in spark.sql(f"SELECT pid, f_fid FROM {name}").collect()
        )
        assert got == [("p1", "f1"), ("p2", "f3")]

        # batch twin agrees on the same rows
        iv_b = spark.createDataFrame(purchases, "pid string, k string, ts_s long").select(
            "pid", "k", F.timestamp_seconds("ts_s").alias("ts")
        ).withColumn("ts_end", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        pt_b = spark.createDataFrame(follows, "fid string, k string, ts_s long").select(
            "fid", "k", F.timestamp_seconds("ts_s").alias("ts")
        )
        batch = interval_join(
            pt_b, iv_b, point_on="k", point_ts="ts",
            interval_start="ts", interval_end="ts_end",
            bin_seconds=3600, closed="right", point_prefix="f_",
        )
        assert sorted((r.pid, r.f_fid) for r in batch.collect()) == got
    finally:
        stop_quietly(query)


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_checkpoint_restart_recovers_exactly_once(spark, stream_dirs):
    """W7 recovery e2e: kill the query mid-stream, restart from the
    same checkpoint, feed more data — the flushed output must equal a
    single uninterrupted run (no lost windows, no duplicate rows).
    This is the property the checkpoint exists for; the reference
    relies on it implicitly via Kafka offsets + HDFS checkpoints
    (StreamingJobBase.scala checkpoint convention)."""
    first = [main_ping() for _ in range(3)]
    _write_lines(stream_dirs["in"], first)
    os.makedirs(stream_dirs["out"], exist_ok=True)

    raw = text_file_source(spark, stream_dirs["in"])
    q1 = error_aggregator.write_streaming(raw, stream_dirs["out"], stream_dirs["ckpt"])
    try:
        drain(q1)
    finally:
        stop_quietly(q1)  # hard stop: nothing flushed yet (watermark at epoch)

    # restart from the SAME checkpoint; new data pushes the watermark
    # past the first window -> the pre-restart window must flush now
    late = main_ping(meta={"Timestamp": TEST_TIMESTAMP_NS + 2 * HOUR_NS})
    _write_lines(stream_dirs["in"], [late])
    raw2 = text_file_source(spark, stream_dirs["in"])
    q2 = error_aggregator.write_streaming(raw2, stream_dirs["out"], stream_dirs["ckpt"])
    try:
        drain(q2)
        _write_lines(stream_dirs["in"], [late])
        drain(q2)
    finally:
        stop_quietly(q2)

    got = spark.read.parquet(stream_dirs["out"]).collect()
    # the 3-ping window flushed exactly once, with both experiment slices
    counts = [
        (r.experiment_id, r.experiment_branch)
        for r in got
        if r["count"] == 3 and r.usage_hours is not None
    ]
    assert ("experiment1", "control") in counts
    assert len(counts) == len(set(counts)), "duplicate window rows after restart"
    # and the restart did not re-emit the first batch's rows as extras:
    # every (window, experiment) key appears at most once
    keys = [(r.window_start, r.experiment_id, r.experiment_branch) for r in got]
    assert len(keys) == len(set(keys))


def test_foreachbatch_incremental_aggregate_maintenance(spark, tmp_path):
    """The production incremental-maintenance loop: each micro-batch is
    aggregated and merged into a persistent state table
    (operators/incremental.py:merge_aggregates) — after N batches the
    state must equal the one-pass batch aggregate of everything seen,
    and the merge only ever touches aggregate-sized frames."""
    import pyspark.sql.functions as F

    from telemetry_streaming_spark.operators.incremental import merge_aggregates

    src = tmp_path / "src"
    src.mkdir()
    state_dir = str(tmp_path / "state")

    def agg(df):
        return df.groupBy("k").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
        )

    def upsert(batch_df, batch_id):
        parts = [agg(batch_df)]
        if os.path.exists(state_dir):
            parts.append(spark.read.parquet(state_dir))
        merged = merge_aggregates(parts, ["k"], count_cols=["n"], sum_cols=["s"])
        merged.write.mode("overwrite").parquet(state_dir + ".tmp")
        # atomic-ish swap: readers never see a half-written state
        spark.read.parquet(state_dir + ".tmp").write.mode("overwrite").parquet(state_dir)

    def feed(rows):
        p = src / f"{uuid.uuid4().hex}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    feed([{"k": "a", "v": 1}, {"k": "a", "v": 2}, {"k": "b", "v": 10}])
    stream = spark.readStream.schema("k string, v long").json(str(src))
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        feed([{"k": "a", "v": 4}, {"k": "c", "v": 7}])
        q.processAllAvailable()
    finally:
        stop_quietly(q)

    state = {r.k: (r.n, r.s) for r in spark.read.parquet(state_dir).collect()}
    assert state == {"a": (3, 7), "b": (1, 10), "c": (1, 7)}


def test_foreachbatch_sketch_state_distinct_counts(spark, tmp_path):
    """Incremental COUNT(DISTINCT) maintenance: per-batch HLL sketches
    merge into persistent binary state; after any number of batches the
    estimate equals the exact distinct count over everything seen
    (exact regime: cardinality below the sketch threshold).  Raw rows
    are never re-scanned — only sketch blobs merge."""
    from telemetry_streaming_spark.operators.incremental import (
        distinct_sketch,
        merge_sketch_aggregates,
    )

    src = tmp_path / "src"
    src.mkdir()
    state_dir = str(tmp_path / "state")

    def upsert(batch_df, batch_id):
        parts = [batch_df.groupBy("k").agg(distinct_sketch("u").alias("du"))]
        if os.path.exists(state_dir):
            parts.append(spark.read.parquet(state_dir))
        merged = merge_sketch_aggregates(parts, ["k"], hll_cols=["du"])
        merged.write.mode("overwrite").parquet(state_dir + ".tmp")
        spark.read.parquet(state_dir + ".tmp").write.mode("overwrite").parquet(state_dir)

    def feed(rows):
        p = src / f"{uuid.uuid4().hex}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    feed([{"k": "a", "u": i % 7} for i in range(30)] + [{"k": "b", "u": 1}])
    q = (
        spark.readStream.schema("k string, u long").json(str(src))
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        feed([{"k": "a", "u": 100 + i} for i in range(5)] + [{"k": "b", "u": 2}])
        q.processAllAvailable()
    finally:
        stop_quietly(q)

    got = {
        r.k: r.d
        for r in spark.read.parquet(state_dir)
        .selectExpr("k", "hll_sketch_estimate(du) AS d")
        .collect()
    }
    assert got == {"a": 12, "b": 2}  # 7 + 5 fresh for a; {1, 2} for b


def test_default_write_streaming_reports_parse_guard(spark, stream_dirs):
    """The parse_guard observation is always on: a default
    write_streaming query reports rows seen and rejected on each
    micro-batch's progress."""
    os.makedirs(stream_dirs["out"], exist_ok=True)
    _write_lines(stream_dirs["in"], [main_ping(), main_ping(), "{broken json"])
    raw = text_file_source(spark, stream_dirs["in"])
    query = error_aggregator.write_streaming(raw, stream_dirs["out"], stream_dirs["ckpt"])
    try:
        drain(query)
        guards = [
            p["observedMetrics"]["parse_guard"].asDict()
            for p in query.recentProgress
            if "parse_guard" in (p.get("observedMetrics") or {})
        ]
    finally:
        stop_quietly(query)
    assert {"rows_seen": 3, "rows_rejected": 1} in guards


def test_streaming_reject_guard_trips_on_malformed_ping(spark, stream_dirs):
    """--raise-on-error streaming surface: the parse_guard observation
    rides each micro-batch of the default write_streaming query, and
    the RejectGuardListener trips on the first batch containing an
    undecodable envelope; clean batches leave it untripped."""
    from telemetry_streaming_spark.observability import make_reject_guard_listener

    guard = make_reject_guard_listener()
    spark.streams.addListener(guard)
    os.makedirs(stream_dirs["out"], exist_ok=True)
    _write_lines(stream_dirs["in"], [main_ping(), main_ping()])
    raw = text_file_source(spark, stream_dirs["in"])
    query = error_aggregator.write_streaming(raw, stream_dirs["out"], stream_dirs["ckpt"])
    try:
        drain(query)
        assert guard.tripped is None  # clean batch: no trip

        _write_lines(stream_dirs["in"], [main_ping(), "{broken json"])
        drain(query)
        deadline = time.time() + 20
        while guard.tripped is None and time.time() < deadline:
            time.sleep(0.2)  # listener events are delivered async
        assert guard.tripped is not None
        assert guard.tripped["rows_rejected"] == 1
        assert guard.tripped["rows_seen"] == 2
    finally:
        stop_quietly(query)
        spark.streams.removeListener(guard)


def test_streaming_chunk_dedup_first_seen_wins(spark, stream_dirs):
    """Extension: streaming chunk-level dedup — a chunk replayed
    within the watermark horizon (same text in a later doc) is
    dropped; fresh chunks pass."""
    from telemetry_streaming_spark.operators.contamination import streaming_chunk_dedup

    base = int(TEST_TIMESTAMP_NS // 1_000_000_000)
    shared = " ".join(f"s{i}" for i in range(10))
    fresh = " ".join(f"f{i}" for i in range(10))
    rows1 = [json.dumps({"doc_id": 1, "text": shared, "ts_s": base})]
    rows2 = [
        json.dumps({"doc_id": 2, "text": shared + " " + fresh, "ts_s": base + 60}),
    ]
    _write_lines(stream_dirs["in"], rows1)

    raw = text_file_source(spark, stream_dirs["in"])
    parsed = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("value", "$.text").alias("text"),
        F.timestamp_seconds(
            F.get_json_object("value", "$.ts_s").cast("long")
        ).alias("timestamp"),
    )
    deduped = streaming_chunk_dedup(parsed)
    name = f"chunkdedup_test_{uuid.uuid4().hex[:8]}"
    query = (
        deduped.writeStream.queryName(name)
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    try:
        drain(query)
        _write_lines(stream_dirs["in"], rows2)
        drain(query)
        got = sorted(
            (r.doc_id, r.chunk_idx)
            for r in spark.sql(f"SELECT doc_id, chunk_idx FROM {name}").collect()
        )
        # doc 1 chunk 0 emitted; doc 2's replayed chunk 0 dropped,
        # its fresh chunk 1 emitted
        assert got == [(1, 0), (2, 1)]
    finally:
        stop_quietly(query)


def test_streaming_decontaminate_drops_overlapping_docs(spark, stream_dirs):
    """Streaming decontamination must agree with the batch join tier:
    docs sharing a benchmark n-gram are dropped, clean docs pass, and
    the operator is stateless (append mode, no watermark needed)."""
    from telemetry_streaming_spark.operators.contamination import decontaminate_stream

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    rows = [
        json.dumps({"doc_id": 1, "text": "the quick brown fox runs today"}),
        json.dumps({"doc_id": 2, "text": "a completely unrelated token stream"}),
        json.dumps({"doc_id": 3, "text": "quick brown fox jumps high"}),
    ]
    _write_lines(stream_dirs["in"], rows)
    raw = text_file_source(spark, stream_dirs["in"])
    parsed = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("value", "$.text").alias("text"),
    )
    clean = decontaminate_stream(parsed, bench, n=4)
    name = f"decontam_{uuid.uuid4().hex[:8]}"
    query = (
        clean.writeStream.queryName(name)
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    try:
        drain(query)
        kept = {r.doc_id for r in spark.sql(f"SELECT doc_id FROM {name}").collect()}
        assert kept == {2}
    finally:
        stop_quietly(query)


def test_streaming_text_chunks_stateless(spark, stream_dirs):
    """text_chunks is a pure map (explode + slice), so it runs on a
    streaming frame unchanged — chunk output matches the batch tier
    row-for-row on the same input."""
    from telemetry_streaming_spark.operators.contamination import text_chunks

    doc = " ".join(f"w{i}" for i in range(10))
    _write_lines(stream_dirs["in"], [json.dumps({"doc_id": 1, "text": doc})])
    raw = text_file_source(spark, stream_dirs["in"])
    parsed = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("value", "$.text").alias("text"),
    )
    chunks = text_chunks(parsed, chunk_tokens=4, overlap=1)
    assert chunks.isStreaming
    name = f"textchunks_test_{uuid.uuid4().hex[:8]}"
    query = (
        chunks.writeStream.queryName(name)
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    try:
        drain(query)
        got = sorted(
            (r.doc_id, r.chunk_idx, r.chunk, r.n_tokens)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )
    finally:
        stop_quietly(query)
    batch = spark.createDataFrame([(1, doc)], ["doc_id", "text"])
    want = sorted(
        (r.doc_id, r.chunk_idx, r.chunk, r.n_tokens)
        for r in text_chunks(batch, chunk_tokens=4, overlap=1).collect()
    )
    assert got == want and len(got) == 3


def test_general_schema_tier_streams(spark, stream_dirs):
    """P19 general tier IN-STREAM (Ping.scala:354-377): a config with a
    non-compiled keyword (maxLength) must validate inside writeStream —
    no foreachBatch workaround — because the jsonschema match is a
    stateless Arrow projection over the events array.  Golden values
    mirror test_general_fallback_maxlength_golden's batch run: of the
    four fixture methods only 'click' survives maxLength 6."""
    from telemetry_streaming_spark.jobs import events_to_amplitude as amp_mod
    from tests.fixtures import focus_event_ping
    from tests.test_events_to_amplitude import MAXLEN_SCHEMA

    config = amp_mod.parse_config(
        {
            "source": "telemetry",
            "filters": {"docType": ["focus-event"], "appName": ["Focus"]},
            "eventGroups": [
                {
                    "eventGroupName": "m_foc",
                    "events": [
                        {"name": "Short", "description": "", "schema": MAXLEN_SCHEMA}
                    ],
                }
            ],
        }
    )
    assert not all(
        amp_mod.schema_is_compiled(spec.schema) for _, spec in config.flat_specs()
    ), "test must exercise the general tier"
    _write_lines(stream_dirs["in"], [focus_event_ping()])
    raw = text_file_source(spark, stream_dirs["in"])
    payloads = amp_mod.amplitude_payloads(raw, config)
    name = f"general_tier_{uuid.uuid4().hex[:8]}"
    q = (
        payloads.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    try:
        drain(q)
    finally:
        stop_quietly(q)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert len(rows) == 1
    payload_events = [json.loads(e) for e in rows[0].events]
    assert [p["event_type"] for p in payload_events] == ["m_foc - Short"]
    assert "click" in payload_events[0]["insert_id"]
    assert rows[0].client_id == "client1"


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_streaming_duplicated_spans_first_seen(spark, stream_dirs):
    """Streaming tier of the Lee-et-al span family: windows already
    seen within the watermark horizon become per-doc merged spans.
    First-seen semantics (the streaming_chunk_dedup deviation): the
    originating doc emits nothing, repeats emit spans; a FULLY
    duplicated doc still emits its whole-doc span via the anchor row.
    Batch-consistency pin: for docs whose duplicated windows originate
    in earlier arrivals, the spans equal batch duplicated_spans."""
    from telemetry_streaming_spark.operators.contamination import (
        duplicated_spans,
        streaming_duplicated_spans,
    )

    base = int(TEST_TIMESTAMP_NS // 1_000_000_000)
    doc1 = " ".join(f"a{i}" for i in range(10))
    doc2 = "f0 f1 f2 f3 " + " ".join(f"a{i}" for i in range(6)) + " g0 g1 g2 g3"
    doc3 = doc1  # byte-identical replay
    _write_lines(
        stream_dirs["in"], [json.dumps({"doc_id": 1, "text": doc1, "ts_s": base})]
    )

    raw = text_file_source(spark, stream_dirs["in"])
    parsed = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("value", "$.text").alias("text"),
        F.timestamp_seconds(
            F.get_json_object("value", "$.ts_s").cast("long")
        ).alias("timestamp"),
    )
    spans = streaming_duplicated_spans(parsed, n=4)
    name = f"dupspans_{uuid.uuid4().hex[:8]}"
    query = (
        spans.writeStream.queryName(name)
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    try:
        drain(query)
        _write_lines(
            stream_dirs["in"],
            [
                json.dumps({"doc_id": 2, "text": doc2, "ts_s": base + 60}),
                json.dumps({"doc_id": 3, "text": doc3, "ts_s": base + 60}),
            ],
        )
        drain(query)
        # far-future event sent twice — the reference's double-send
        # trick: the first batch raises the max event time, the SECOND
        # batch runs with the advanced watermark and flushes the window
        for _ in range(2):
            _write_lines(
                stream_dirs["in"],
                [json.dumps({"doc_id": 99, "text": "zz zz", "ts_s": base + 7200})],
            )
            drain(query)
        got = sorted(
            (r.doc_id, r.span_start, r.span_end)
            for r in spark.sql(
                f"SELECT doc_id, span_start, span_end FROM {name}"
            ).collect()
        )
    finally:
        stop_quietly(query)
    # doc 1 arrived first: every window fresh, no spans (the documented
    # first-seen deviation from batch, which flags doc 1's copy too);
    # doc 2's a-run windows 5..7 merge to [5, 10]; doc 3 is fully
    # duplicated -> whole-doc span via the anchor path
    assert got == [(2, 5, 10), (3, 1, 10)]

    # batch-consistency pin: batch spans for the later-arriving docs
    batch_docs = spark.createDataFrame(
        [(1, doc1), (2, doc2), (3, doc3)], "doc_id long, text string"
    )
    batch = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicated_spans(batch_docs, n=4, min_count=2).collect()
        if r.doc_id != 1
    )
    assert batch == got
