"""Structured Streaming plumbing (SURVEY §2.8 W1-W11).

The reference runs every job in micro-batch Structured Streaming off a
Kafka ``telemetry`` topic (StreamingJobBase.scala:63-96).  This module
centralizes the stream-side wiring our jobs share:

- source builders: Kafka with the reference's exact option surface
  (S1/W8 — ErrorAggregatorBase.scala:132-141), plus a text-file source
  that yields the same one-column ``value string`` contract for
  offline/e2e tests (S4 stand-in — PySpark cannot feed MemoryStream).
- checkpoint-path convention (W7 — StreamingJobBase.scala:73-77).
- the one windowed aggregate (W1/W3): 5-minute tumbling windows under
  a 1-minute watermark when the input streams.
- a progress-collecting StreamingQueryListener (W11 —
  ErrorAggregatorTest.scala:290-328 drives sends off onQueryProgress;
  our tests assert watermark/row progress the same way).
- drain helpers for deterministic test orchestration
  (``processAllAvailable``).

Scale note: all of these are control-plane concerns — none add a
shuffle or touch the data plane.  The Kafka fetch caps mirror the
reference's 8MB/consumer-cache tuning so a 1000-partition topic does
not overrun executor memory.
"""

from __future__ import annotations

import os
import threading

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

DEFAULT_CHECKPOINT_ROOT = "/tmp/checkpoints"
KAFKA_TELEMETRY_TOPIC = "telemetry"
KAFKA_MAX_FETCH_BYTES = 8 * 1024 * 1024  # ErrorAggregatorBase.scala:137


def checkpoint_path(job_name: str, root: str | None = None) -> str:
    """Per-job checkpoint dir, ``{root}/{JobName}`` (W7,
    StreamingJobBase.scala:73-77, default root /tmp/checkpoints)."""
    return os.path.join(root or DEFAULT_CHECKPOINT_ROOT, job_name)


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topic: str = KAFKA_TELEMETRY_TOPIC,
    starting_offsets: str = "latest",
    fail_on_data_loss: bool = False,
    consumer_cache_capacity: int = 1000,
) -> DataFrame:
    """S1/W8: the Kafka source narrowed to the one-column binary
    ``value`` frame every job consumes (ErrorAggregatorBase.scala:
    132-145).  Option names/defaults match the reference."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("kafka.max.partition.fetch.bytes", str(KAFKA_MAX_FETCH_BYTES))
        .option("spark.streaming.kafka.consumer.cache.maxCapacity", str(consumer_cache_capacity))
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
        .load()
        .select("value")
    )


def text_file_source(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based stand-in for the Kafka/MemoryStream source (S4): one
    JSON envelope per line, streamed as the same ``value string``
    column the Kafka path produces.  Dropping a new file into ``path``
    is the offline analog of producing to the topic — our e2e tests
    use exactly the reference's double-send trick to push watermarks
    (ErrorAggregatorTest.scala:299-324)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def window_aggregate(rows: DataFrame, keys: list, aggs: list[Column]) -> DataFrame:
    """W3/W1: ``aggs`` per (5-minute tumbling window over
    ``timestamp``, ``keys``), the window emitted as ``window_start``/
    ``window_end``.  Streaming input adds the 1-minute watermark that
    bounds the state and lets append mode emit a window once it closes
    (ErrorAggregatorBase.scala:238-256,
    ExperimentEnrollmentsAggregator.scala:56-65).  Batch and streaming
    return the same schema."""
    if rows.isStreaming:
        rows = rows.withWatermark("timestamp", "1 minute")
    return (
        rows.groupBy(F.window("timestamp", "5 minutes").alias("window"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("window")["start"])
        .withColumn("window_end", F.col("window")["end"])
        .drop("window")
    )


class CollectingListener(StreamingQueryListener):
    """W11: collects micro-batch progress for assertions — input rows
    per batch and the event-time watermark after each batch."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append(event.id)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.progress.append(
                {
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "watermark": p.eventTime.get("watermark"),
                }
            )

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.append(event.id)

    def onQueryIdle(self, event) -> None:  # pragma: no cover - noop
        pass

    @property
    def total_input_rows(self) -> int:
        with self._lock:
            return int(sum(p["numInputRows"] for p in self.progress))


def drain(query) -> None:
    """Deterministically process everything currently available
    (the PySpark analog of the reference's processAllAvailable test
    orchestration)."""
    query.processAllAvailable()


def stop_quietly(query) -> None:
    try:
        query.stop()
        query.awaitTermination(30)
    except Exception:
        pass
