"""The one ping parse stage (functions/pings.guarded_parse): every ETL
entry point parses each envelope once, behind the parse_guard
observation, whatever filters the job puts on the parsed ping
(Ping.messageToPing, Ping.scala:59-74, decodes each message once)."""

import copy

import pyspark.sql.functions as F
import pytest

from perfbench.pings import AMPLITUDE_CONFIG
from telemetry_streaming_spark.functions.pings import parse_pings
from telemetry_streaming_spark.jobs import crashes, enrollments_to_testtube, error_aggregator
from telemetry_streaming_spark.jobs import event_ping_events, experiment_enrollments
from telemetry_streaming_spark.jobs import events_to_amplitude as amp
from telemetry_streaming_spark.jobs import experiments_error_aggregator, federated_optimizer
from telemetry_streaming_spark.jobs import uptake_to_datadog
from tests import fixtures
from tests.test_events_to_amplitude import MAXLEN_SCHEMA

PINGS = [
    fixtures.main_ping(),
    fixtures.crash_ping(),
    fixtures.core_ping(),
    fixtures.event_ping(),
    fixtures.focus_event_ping(),
    fixtures.frecency_update_ping(),
    "{not valid json",
]


def _amplitude(doc):
    return lambda raw: amp.exploded_events(amp.amplitude_payloads(raw, amp.parse_config(doc)))


GENERAL_TIER = copy.deepcopy(AMPLITUDE_CONFIG)
GENERAL_TIER["eventGroups"][0]["events"][0]["schema"] = MAXLEN_SCHEMA

ENTRY_POINTS = {
    "error_aggregator": lambda raw: error_aggregator.aggregate(raw)[0],
    "experiments_error_aggregator": lambda raw: experiments_error_aggregator.aggregate(raw)[0],
    "uptake_to_datadog": lambda raw: uptake_to_datadog.metrics(raw)[0],
    "crashes_to_influx": crashes.to_influx,
    "crashes_to_opentsdb": crashes.to_opentsdb,
    "event_ping_events": event_ping_events.explode_events,
    "experiment_enrollments": experiment_enrollments.aggregate,
    "enrollments_to_testtube": lambda raw: enrollments_to_testtube.to_json_rows(
        enrollments_to_testtube.aggregate(raw)
    ),
    "federated_optimizer": lambda raw: federated_optimizer.frecency_updates(raw, "model1"),
    "events_to_amplitude_compiled": _amplitude(AMPLITUDE_CONFIG),
    "events_to_amplitude_general": _amplitude(GENERAL_TIER),
}


@pytest.mark.parametrize("job", sorted(ENTRY_POINTS))
def test_each_plan_parses_the_envelope_once(spark, job):
    """One envelope from_json per executed plan; the from_json of a
    MapType parses an event's nested ``extra`` object, not the ping."""
    df = ENTRY_POINTS[job](fixtures.to_df(spark, PINGS))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_json(") - plan.count("from_json(MapType") == 1
    assert "CollectMetrics" in plan


def test_two_parsed_frames_union_in_batch(spark):
    """Each batch parse carries its own uniquely named observation, so
    two of them can meet in one plan."""
    raw = fixtures.to_df(spark, PINGS)
    pings = parse_pings(raw).union(parse_pings(raw))
    doc_types = pings.select(F.col("ping")["meta"]["docType"].alias("d"))
    assert doc_types.count() == 2 * (len(PINGS) - 1)
