"""ErrorAggregator golden-count parity with the reference's test
suite (ErrorAggregatorTest.scala; counts catalogued in FIXTURES.md §8)."""

import pyspark.sql.functions as F
import pytest

from telemetry_streaming_spark.jobs.error_aggregator import aggregate
from tests.fixtures import core_ping, crash_ping, main_ping, to_df

K = 5  # reference uses k messages per type


def agg_rows(spark, pings):
    return aggregate(to_df(spark, pings))[0].collect()


def test_experiment_fanout_three_rows(spark):
    """1 ping with old-style experiment1 + new-style experiment2 =>
    3 aggregate rows: experiment1, experiment2, null
    (ErrorAggregatorTest.scala:69)."""
    rows = agg_rows(spark, [main_ping(experiments={"experiment2": "chaos"})])
    assert len(rows) == 3
    slices = {(r.experiment_id, r.experiment_branch) for r in rows}
    assert slices == {("experiment1", "control"), ("experiment2", "chaos"), (None, None)}
    for r in rows:
        assert r["count"] == 1
        assert r.usage_hours == pytest.approx(1.0)


def test_crash_main_content_metrics(spark):
    """k main + k crashes (k-2 default, 1 startup=0, 1 startup=1) + 2
    content crashes (1 ShutDownKill) => per slice: count=2k+2,
    main_crashes=k, startup_crashes=1, content_crashes=1,
    content_shutdown_crashes=1, gpu/plugin/gmplugin=k, usage=k,
    browser_shim_usage_blocked=k (ErrorAggregatorTest.scala:102-125)."""
    pings = (
        [main_ping() for _ in range(K)]
        + [crash_ping() for _ in range(K - 2)]
        + [crash_ping(startup_crash="0"), crash_ping(startup_crash="1")]
        + [crash_ping(process_type="content"), crash_ping(process_type="content", ipc_channel_error="ShutDownKill")]
    )
    rows = agg_rows(spark, pings)
    assert len(rows) == 2  # experiment1 + null slices
    for r in rows:
        assert r["count"] == 2 * K + 2
        assert r.main_crashes == K
        assert r.startup_crashes == 1
        assert r.content_crashes == 1
        assert r.content_shutdown_crashes == 1
        assert r.gpu_crashes == K
        assert r.plugin_crashes == K
        assert r.gmplugin_crashes == K
        assert r.usage_hours == pytest.approx(float(K))
        assert r.browser_shim_usage_blocked == K
        assert r.permissions_sql_corrupted is None


def test_os_version_normalization(spark):
    """os version '10.2.42-hello' -> '10.2.42'
    (ErrorAggregatorTest.scala:128-148)."""
    rows = agg_rows(
        spark,
        [main_ping(environment={"system": {"os": {"name": "Linux", "version": "10.2.42-hello"}}})],
    )
    assert rows and all(r.os_version == "10.2.42" for r in rows)


def test_non_firefox_discarded(spark):
    """appName not in allow-list => dropped
    (ErrorAggregatorTest.scala:254-268)."""
    assert agg_rows(spark, [main_ping(meta={"appName": "Thunderbird"})]) == []


def test_other_channel_discarded(spark):
    assert agg_rows(spark, [main_ping(meta={"normalizedChannel": "Other"})]) == []


def test_old_build_id_discarded(spark):
    """buildId older than 6 months vs submissionDate => 0 rows
    (ErrorAggregatorTest.scala:355-368)."""
    assert (
        agg_rows(
            spark,
            [main_ping(environment={"build": {"buildId": "20160101000000"}})],
        )
        == []
    )
    # within range: kept
    assert agg_rows(spark, [main_ping(environment={"build": {"buildId": "20161215000000"}})])


def test_null_display_version(spark):
    """missing displayVersion -> null column
    (ErrorAggregatorTest.scala:383-395)."""
    rows = agg_rows(
        spark, [main_ping(environment={"build": {"displayVersion": None}})]
    )
    assert rows and all(r.display_version is None for r in rows)


def test_fennec_core_ping(spark):
    """core/Fennec/Android accepted; usage from durations; always
    all-up slice only (ErrorAggregatorTest.scala:203-252)."""
    rows = agg_rows(spark, [core_ping()])
    assert len(rows) == 1
    r = rows[0]
    assert (r.experiment_id, r.experiment_branch) == (None, None)
    assert r.application == "Fennec"
    assert r.os_name == "Android"
    assert r.usage_hours == pytest.approx(1.0)
    assert r.version == "59.0"
    assert r.display_version == "59.0b1"


def test_core_non_android_discarded(spark):
    assert agg_rows(spark, [core_ping(payload={"os": "iOS"})]) == []


def test_fennec_crash_os_fixup(spark):
    """Fennec crash reporting Linux -> Android (CrashPing.scala:17-25)."""
    rows = agg_rows(spark, [crash_ping(fennec=True)])
    assert rows and all(r.os_name == "Android" for r in rows)


def test_main_without_usage_discarded(spark):
    rows = agg_rows(spark, [main_ping(payload={"info": {"subsessionLength": None}})])
    assert rows == []


def test_usage_hours_clamped(spark):
    rows = agg_rows(spark, [main_ping(payload={"info": {"subsessionLength": 3600 * 1000}})])
    assert rows and all(r.usage_hours == pytest.approx(25.0) for r in rows)


def test_no_client_id_column(spark):
    """client_id feeds pre-agg rows but must not survive aggregation
    (ErrorAggregatorTest.scala:346-353)."""
    df, _ = aggregate(to_df(spark, [main_ping()]))
    assert "client_id" not in df.columns


def test_window_bounds(spark):
    """5-minute window contains the fixed test timestamp
    2016-04-07T13:35:16.829Z -> window [13:35:00, 13:40:00)
    (matches ExperimentEnrollmentsAggregatorTest.scala:19-20)."""
    rows = agg_rows(spark, [main_ping()])
    assert rows
    r = rows[0]
    assert (r.window_start.hour, r.window_start.minute, r.window_start.second) == (13, 35, 0)
    assert (r.window_end - r.window_start).total_seconds() == 300
    assert r.submission_date_s3 == "20160407"
