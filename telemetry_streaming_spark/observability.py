"""Observability (SURVEY §2.10 O1) — metric counters and observed
aggregates.

The reference registers LongAccumulators with Spark's metrics system
and marks them from sink code (AccumulatorMetricsSource.scala:38-94;
mark sites HttpSink.scala:66-71, :176-193: success / error / retry /
payload-too-large / dropped).  PySpark cannot subclass the JVM
``Source``, so the engine exposes the same surface two ways:

- :class:`SinkMetrics` — Python accumulators that executor-side sink
  code (foreach / foreachPartition) marks; values aggregate on the
  driver exactly like the reference's accumulators.  A metrics
  poller/exporter reads ``snapshot()`` on its own cadence (the
  reference polls every 10s).
- :func:`observe_counts` — ``df.observe`` wrapper for plan-level
  metrics (rows seen, rows rejected, ...) with zero extra passes over
  the data; batch reads come back via ``Observation``, streaming via
  ``QueryProgressEvent.observedMetrics``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

METRIC_NAMES = ("success", "error", "retry", "payload_too_large", "dropped")


class SinkMetrics:
    """Accumulator-backed counters for executor-side sinks (O1).

    Instances are picklable into foreachPartition closures; ``add``s
    from any executor aggregate on the driver.
    """

    def __init__(self, spark: SparkSession, names: tuple[str, ...] = METRIC_NAMES):
        sc = spark.sparkContext
        self._acc = {n: sc.accumulator(0) for n in names}

    def mark(self, name: str, n: int = 1) -> None:
        self._acc[name].add(n)

    def value(self, name: str) -> int:
        return int(self._acc[name].value)

    def snapshot(self) -> dict[str, int]:
        return {n: int(a.value) for n, a in self._acc.items()}


def observe_counts(df: DataFrame, name: str, **metrics: Column):
    """Attach named observed aggregates to a plan: returns
    ``(df, observation)``.  Metrics are computed as a side output of
    the existing pass — no second scan (the idiomatic replacement for
    the reference's per-record accumulator bumps inside flatMap).

    A batch plan gets an ``Observation`` with its own unique name, so
    two observed frames can meet in one plan.  A streaming plan cannot
    carry an ``Observation`` handle: it attaches as ``name`` and the
    observation comes back ``None``; read per-batch values from
    ``QueryProgressEvent.observedMetrics[name]``, e.g. via
    :class:`RejectGuardListener`."""
    aliased = [m.alias(k) for k, m in metrics.items()]
    if df.isStreaming:
        return df.observe(name, *aliased), None
    obs = Observation()
    return df.observe(obs, *aliased), obs


def observation_counts(obs, fallback) -> dict:
    """``Observation.get`` with an explicit-recount fallback.

    PySpark 4.1's ``Observation.get`` raises a JVM assertion when the
    acted-on result is EMPTY (AQE prunes the observed node out of an
    empty-result plan, so the metrics row never materializes) — which
    for a reject guard is precisely the all-rows-rejected case it most
    needs to report.  ``fallback()`` recomputes the same counts with a
    dedicated (cheap, parse-stage-only) pass; it runs ONLY on that
    degenerate path, so the no-second-scan property of the normal path
    is preserved.  Only the JVM-side fetch error is caught — anything
    else (driver bugs, interrupts) propagates rather than silently
    triggering a second scan."""
    from py4j.protocol import Py4JJavaError

    try:
        return obs.get
    except Py4JJavaError:
        return fallback()


class ParseRejectionError(RuntimeError):
    """Raised under --raise-on-error when a batch or micro-batch had
    rows the parse stage dropped, as counted by the ``parse_guard``
    observation every ErrorAggregator and UptakeToDatadog plan carries
    (the engine's equivalent of the reference's raiseOnError exception
    propagation, ErrorAggregatorBase.scala:220,
    UptakeEventsToDatadog.scala:117)."""

    def __init__(self, counts: dict):
        self.counts = counts
        super().__init__(
            f"{counts.get('rows_rejected', '?')} of {counts.get('rows_seen', '?')} "
            "input rows were rejected by the parse stage (--raise-on-error)"
        )


def make_reject_guard_listener(name: str = "parse_guard"):
    """StreamingQueryListener that trips when a micro-batch reports
    ``rows_rejected > 0`` under observation ``name``.  The caller polls
    ``listener.tripped`` (the offending metrics dict) and stops the
    query — a listener cannot raise into the stream itself."""
    from pyspark.sql.streaming import StreamingQueryListener

    class RejectGuardListener(StreamingQueryListener):
        def __init__(self):
            self.tripped: dict | None = None

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            row = (event.progress.observedMetrics or {}).get(name)
            if row is not None and self.tripped is None:
                d = row.asDict()
                if (d.get("rows_rejected") or 0) > 0:
                    self.tripped = d

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return RejectGuardListener()


def reject_counters(rejected: Column) -> dict[str, Column]:
    """The standard pair: rows seen / rows rejected, for the
    exception-as-filter parity mode (SURVEY §7.4 risk 3 —
    ``raiseOnError`` becomes 'assert rejected == 0').  ``rejected``
    must be non-NULL: a NULL flag is summed as not rejected."""
    return {
        "rows_seen": F.count(F.lit(1)),
        "rows_rejected": F.sum(rejected.cast("long")),
    }
