"""TestTube / Datadog / Crashes / ExperimentsErrorAggregator parity
(UptakeEventsToDatadogTest.scala, CrashesToInfluxTest.scala,
CrashesToOpenTsdbTest.scala golden strings)."""

import json

from telemetry_streaming_spark.jobs import crashes, enrollments_to_testtube, uptake_to_datadog
from telemetry_streaming_spark.jobs.experiments_error_aggregator import aggregate as exp_agg
from tests.fixtures import TEST_TIMESTAMP_NS, crash_ping, event_ping, main_ping, to_df


def test_experiments_error_aggregator_subset_schema(spark):
    df, _ = exp_agg(to_df(spark, [main_ping()]))
    cols = set(df.columns)
    assert "os_version" not in cols and "build_id" not in cols
    assert {"submission_date_s3", "channel", "version", "os_name", "country",
            "experiment_id", "experiment_branch", "usage_hours", "count",
            "window_start", "window_end"} <= cols
    assert "browser_shim_usage_blocked" not in cols
    assert df.count() == 2  # experiment1 + null slice


def test_testtube_seven_counters(spark):
    ev = lambda m: [5, "normandy", m, "preference_study", "ExpA", {"branch": "six"}]  # noqa: E731
    pings = [
        event_ping(events={"dynamic": [ev("enroll"), ev("graduate"), ev("update"),
                                       ev("enrollFailed"), ev("unenrollFailed"),
                                       ev("updateFailed"), ev("unenroll")]})
    ]
    rows = enrollments_to_testtube.aggregate(to_df(spark, pings)).collect()
    assert len(rows) == 1
    r = rows[0]
    for c in ["enroll_count", "unenroll_count", "graduate_count", "update_count",
              "enroll_failed_count", "unenroll_failed_count", "update_failed_count"]:
        assert r[c] == 1, c


def test_testtube_json_rows(spark):
    ev = [5, "normandy", "enroll", "preference_study", "ExpA", {"branch": "six"}]
    agg = enrollments_to_testtube.aggregate(to_df(spark, [event_ping(events={"dynamic": [ev]})]))
    out = json.loads(enrollments_to_testtube.to_json_rows(agg).collect()[0].value)
    assert out["type"] == "preference_study"
    assert out["experiment_id"] == "ExpA"
    assert out["branch_id"] == "six"
    assert out["enroll_count"] == 1
    # epoch ms of 2016-04-07 13:35:00 UTC
    assert out["window_start"] == 1460036100000
    assert out["window_end"] == 1460036400000


def test_datadog_normandy_counter(spark):
    """normandy event -> counter telemetry.{cat}.{object}.{method}
    tagged experiment/branch (UptakeEventsToDatadogTest.scala:14-59)."""
    ev = [5, "normandy", "enroll", "preference_study", "pref-flip", {"branch": "six"}]
    rows = uptake_to_datadog.metrics(to_df(spark, [event_ping(events={"dynamic": [ev]})]))[0].collect()
    assert len(rows) == 1
    m = rows[0]
    assert m.name == "telemetry.normandy.preference_study.enroll"
    assert m.value == "1" and m.type == "c"
    assert m.tags == {"experiment": "pref-flip", "branch": "six"}


def test_datadog_uptake_counter_and_timers(spark):
    ev = [5, "uptake.remotecontent.result", "uptake", "remotesettings", "success",
          {"source": "blocklists/addons/one", "duration": "120", "age": "33"}]
    rows = uptake_to_datadog.metrics(to_df(spark, [event_ping(events={"dynamic": [ev]})]))[0].collect()
    by_name = {r.name: r for r in rows}
    base = "telemetry.uptake.remotesettings.uptake.success"
    assert set(by_name) == {base, base + ".duration", base + ".age"}
    assert by_name[base].type == "c"
    assert by_name[base + ".duration"].value == "120"
    assert by_name[base + ".duration"].type == "ms"
    assert by_name[base].tags == {
        "source_type": "blocklists", "source_subtype": "addons", "source_details": "one"
    }


def test_datadog_uptake_null_value_and_bad_duration(spark):
    ev = [5, "uptake.remotecontent.result", "uptake", "remotesettings", None,
          {"duration": "not-an-int"}]
    rows = uptake_to_datadog.metrics(to_df(spark, [event_ping(events={"dynamic": [ev]})]))[0].collect()
    assert len(rows) == 1  # counter only, no timer
    assert rows[0].name == "telemetry.uptake.remotesettings.uptake.null"


def test_crashes_to_influx_line(spark):
    line = crashes.to_influx(to_df(spark, [crash_ping()])).collect()[0].value
    assert line.startswith("crashes,submissionDate=20170101,appVersion=42.0,appName=Firefox,")
    assert ",displayVersion=42.0b1,channel=release,country=IT,osName=Linux,osVersion=42," in line
    assert line.endswith(f" buildId=20170101000000 {TEST_TIMESTAMP_NS}")
    # tag order is the reference's fixed ListMap order
    assert line.index("submissionDate=") < line.index("appVersion=") < line.index("buildIdTag=")


def test_crashes_to_influx_drops_empty_tags(spark):
    line = crashes.to_influx(
        to_df(spark, [crash_ping(environment={"build": {"displayVersion": None}})])
    ).collect()[0].value
    assert "displayVersion=" not in line


def test_crashes_to_influx_channel_filter(spark):
    out = crashes.to_influx(
        to_df(spark, [crash_ping(meta={"normalizedChannel": "esr"})])
    ).collect()
    assert out == []


def test_crashes_to_opentsdb_json(spark):
    doc = json.loads(crashes.to_opentsdb(to_df(spark, [crash_ping()])).collect()[0].value)
    assert doc["metric"] == "crashes"
    assert doc["timestamp"] == TEST_TIMESTAMP_NS // 1000000
    assert doc["value"] == "20170101000000"
    assert doc["tags"]["appName"] == "Firefox"
    assert doc["tags"]["osName"] == "Linux"
    assert "crashSignature" not in doc["tags"]


def test_opentsdb_sanitizes_raw_signature(spark):
    """P25: to_opentsdb encodes a caller's raw signature for the
    OpenTSDB charset where it enters the tags
    (CrashesToOpenTsdb.scala:36-42)."""
    import pyspark.sql.functions as F

    doc = json.loads(
        crashes.to_opentsdb(
            to_df(spark, [crash_ping()]), signature=F.lit("a | b::c d")
        ).collect()[0].value
    )
    assert doc["tags"]["crashSignature"] == "a.b-c_d"


def test_fennec_crash_os_fixup_in_tags(spark):
    line = crashes.to_influx(
        to_df(spark, [crash_ping(fennec=True)]), app_names=("Firefox", "Fennec")
    ).collect()[0].value
    assert "osName=Android" in line


def test_crash_signature_pandas_udf_plumbs_into_influx(spark):
    """P26: the Arrow-batched signature UDF feeds the crashSignature
    tag; deterministic fake stands in for fx-crash-sig."""
    import pyspark.sql.functions as F

    def fake_sig(stack_traces_json: str) -> str:
        return f"sig-{len(stack_traces_json) % 97}"

    udf = crashes.crash_signature_udf(signature_fn=fake_sig)
    sig_col = udf(F.to_json(F.col("ping")["payload"]))
    line = crashes.to_influx(to_df(spark, [crash_ping()]), signature=sig_col).collect()[0].value
    assert ",crashSignature=sig-" in line


def test_crash_signature_default_siggen_end_to_end(spark):
    """P26: the default signature fn is the native siggen
    implementation — skip the abort trampoline, keep the memcpy
    prefix, stop at the first descriptive frame — escaped into the
    influx line exactly like the reference's crashSignature tag."""
    import pyspark.sql.functions as F

    udf = crashes.crash_signature_udf()
    sig_col = udf(F.to_json(F.col("ping")["payload"]["stackTraces"]))
    line = crashes.to_influx(to_df(spark, [crash_ping()]), signature=sig_col).collect()[0].value
    assert ",crashSignature=memcpy\\ |\\ mozilla::dom::Element::SetAttr" in line
