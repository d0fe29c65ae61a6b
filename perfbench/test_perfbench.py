"""Self-check of the benchmark.  From the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

Confirms that every metric BENCHMARK.json names is emitted (and that
each layer a workload exercises reads non-zero there), and that the
broken Heka layout — ping meta inside the payload, which aggregates to
zero rows — is reported as failed rather than as fast.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import pings as gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# per-layer metric prefixes each workload must drive above zero
EXERCISED = {
    "backfill": ("session.", "heka.", "pings.", "error_agg.", "amplitude.", "http.",
                 "analytics.", "workload.cpu_util", "trace."),
    "stream": ("session.", "stream.", "gen.files", "workload.", "trace."),
}
MAY_BE_ZERO = {"pings.parse_failures", "error_agg.spill_mb", "http.retries", "http.dropped",
               "http.server_busy_s", "stream.state_commit_p50_ms", "analytics.gc_s",
               "workload.gc_s", "stream.latest_offset_p50_s", "stream.wal_commit_p50_s",
               "stream.commit_offsets_p50_s", "stream.planning_p50_s"}


def _run(workload: str, trace: int) -> dict:
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    assert res.returncode == 0
    return json.loads(res.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted(workload):
    plain = _run(workload, 0)
    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 1
    assert set(plain["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in plain["metrics"].values())

    traced = _run(workload, 1)
    assert traced["correct"] and traced["failed"] == 0
    assert set(traced["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    zero = [name for name, m in traced["metrics"].items()
            if name.startswith(EXERCISED[workload]) and name not in MAY_BE_ZERO
            and not name.endswith("backlog_files_max")
            and not m["value"] > 0]
    assert not zero, f"{workload} left exercised layers at zero: {zero}"


def test_meta_in_payload_heka_is_reported_failed(tmp_path):
    """A day whose Heka messages carry meta in the payload must fail
    the ErrorAggregator check; the correct layout must pass it."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from telemetry_streaming_spark import cli
    from telemetry_streaming_spark.session import get_spark
    from workloads import check_error_totals, error_totals

    spark = get_spark(master="local[2]", extra_conf={
        "spark.local.dir": str(tmp_path / "local"), "spark.ui.showConsoleProgress": "false"})
    try:
        for broken in (False, True):
            heka_dir = str(tmp_path / f"heka-{broken}")
            out = str(tmp_path / f"out-{broken}")
            expected = gen.write_heka_day(heka_dir, 3, 300, 2, meta_in_payload=broken)
            cli.main(["error_aggregator", "--input-path", heka_dir, "--format", "heka",
                      "--output-path", out, "--num-parquet-files", "1"], spark=spark)
            failed = check_error_totals(error_totals(spark, out), expected)
            assert (failed > 0) == broken, (broken, failed)
    finally:
        spark.stop()
