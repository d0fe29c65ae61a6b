"""Sink contract (K3-K7, K11): every HTTP/UDP sink is a ForeachWriter
— ``open(partition_id, epoch_id) -> bool``, ``process(row)``,
``close(error)`` — so one writer object serves both modes.  Streaming
hands it to ``writeStream.foreach(sink)``; batch feeds each partition
through :func:`write_partition`, the batch analog of the foreach sink
(SURVEY §3.2 step 5).  File output (K1/K2) has one shape too:
:func:`write_files`.
"""

from __future__ import annotations

import time


def write_partition(sink, rows) -> None:
    """Feed one partition's rows to ``sink`` under the ForeachWriter
    contract: ``open``, ``process`` per row, then ``close`` with the
    error that ended the partition (``None`` on success).  Batch has no
    epochs, so the ids passed to ``open`` are 0."""
    if not sink.open(0, 0):
        return
    try:
        for row in rows:
            sink.process(row)
    except Exception as e:
        sink.close(e)
        raise
    sink.close(None)


def push_partitions(
    df,
    sink_factory,
    max_parallel_requests: int | None = None,
    min_delay_ms: int = 0,
    key_col: str | None = None,
):
    """K11: batch-mode analog of the foreach sink — optionally
    ``repartition(maxParallelRequests)``, then :func:`write_partition`
    on every partition with a ``minDelay`` sleep for rate limiting
    (EventsToAmplitude.scala:277-282, CrashPingStreamingBase.scala:
    141-146).  Effective rate = 10^3 x max_parallel / min_delay req/s
    (EventsToAmplitude.scala:29-36).  With ``max_parallel_requests``,
    ``key_col`` co-locates a key's rows in one partition so one request
    carries them (R4, Bug 1484819); otherwise round-robin (R6).
    ``None`` pushes the frame's partitions as they are.

    ``sink_factory()`` runs on the executor, so transports and metrics
    must be picklable (SinkMetrics is).
    """
    import pyspark.sql.functions as F  # local: keep module import-light

    if max_parallel_requests is not None:
        keys = [F.col(key_col)] if key_col is not None else []
        df = df.repartition(max_parallel_requests, *keys)

    def run(rows) -> None:
        write_partition(sink_factory(), rows)
        if min_delay_ms:
            time.sleep(min_delay_ms / 1000)

    df.foreachPartition(run)


def write_files(
    df,
    path: str,
    fmt: str,
    partition_by: str | None,
    checkpoint_path: str | None,
    query_name: str,
    num_files: int | None = None,
):
    """The one file sink, K1/K2 (ErrorAggregatorBase.scala:146-173).
    Streaming (K1): ``repartition(1)`` — one file per micro-batch and
    partition — appended under ``checkpoint_path``; returns the started
    query, named ``query_name``.  Batch (K2): optionally
    ``repartition(num_files)``, then overwrite; the session's dynamic
    partition overwrite replaces only the partitions written."""
    partitions = [partition_by] if partition_by else []
    if df.isStreaming:
        return (
            df.repartition(1)
            .writeStream.queryName(query_name)
            .format(fmt)
            .option("path", path)
            .option("checkpointLocation", checkpoint_path)
            .partitionBy(*partitions)
            .outputMode("append")
            .start()
        )
    if num_files:
        df = df.repartition(num_files)
    df.write.mode("overwrite").partitionBy(*partitions).format(fmt).save(path)
