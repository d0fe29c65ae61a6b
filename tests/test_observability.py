"""O1 observability tests: accumulator-backed sink metrics aggregate
across executor tasks; observed aggregates ride the existing pass.

Reference behavior: AccumulatorMetricsSourceTest.scala +
HttpSinkMetricsTest.scala (marks: success/error/retry/
payload-too-large/dropped at HttpSink.scala:66-71, :176-193).
"""

import pyspark.sql.functions as F

from telemetry_streaming_spark.observability import (
    SinkMetrics,
    observe_counts,
    reject_counters,
)
from telemetry_streaming_spark.sinks.http import HttpSink, HttpSinkConfig


def test_sink_metrics_mark_success_and_drop(spark):
    metrics = SinkMetrics(spark)
    codes = iter([200, 500, 500, 404])
    sink = HttpSink(
        "http://example.invalid",
        config=HttpSinkConfig(max_attempts=2, base_delay_ms=0),
        transport=lambda *a: next(codes),
        metrics=metrics,
    )
    assert sink.send("ok") is True
    assert sink.send("retry-then-fail") is False  # 500, 500 -> dropped
    assert sink.send("hard-fail") is False  # 404 not retryable -> dropped
    snap = metrics.snapshot()
    assert snap["success"] == 1
    assert snap["retry"] == 1
    assert snap["dropped"] == 2
    assert snap["error"] == 3  # 500, 500, 404


def test_sink_metrics_aggregate_across_partitions(spark):
    """Marks from executor-side foreachPartition tasks must aggregate
    on the driver (the accumulator contract O1 depends on)."""
    metrics = SinkMetrics(spark)
    df = spark.range(40).repartition(8)

    def push(rows):
        sink = HttpSink(
            "http://example.invalid",
            transport=lambda *a: 200,
            metrics=metrics,
        )
        for r in rows:
            sink.send(str(r.id))

    df.foreachPartition(push)
    assert metrics.value("success") == 40
    assert metrics.value("dropped") == 0


def test_observe_counts_rides_the_plan(spark):
    df = spark.range(100).withColumn("ok", F.col("id") % 10 != 0)
    observed, obs = observe_counts(df, "gate", **reject_counters(~F.col("ok")))
    kept = observed.where("ok").count()
    got = obs.get
    assert got["rows_seen"] == 100
    assert got["rows_rejected"] == 10
    assert kept == 90


def test_payload_too_large_mark(spark):
    metrics = SinkMetrics(spark)
    sink = HttpSink(
        "http://example.invalid",
        config=HttpSinkConfig(max_attempts=1),
        transport=lambda *a: 413,
        metrics=metrics,
    )
    assert sink.send("big") is False
    snap = metrics.snapshot()
    assert snap["payload_too_large"] == 1
    assert snap["dropped"] == 1
