"""CLI surface (cli.py): option parity with the reference's Scallop
opts, batch e2e through real job transforms, offline sink fallbacks,
and --explain plan review."""

import json
import os

import pytest

from telemetry_streaming_spark.cli import build_parser, main
from tests.fixtures import crash_ping, main_ping


def test_parser_covers_all_jobs():
    parser = build_parser()
    sub = next(a for a in parser._actions if a.dest == "job")
    assert set(sub.choices) == {
        "error_aggregator", "experiments_error_aggregator", "event_ping_events",
        "experiment_enrollments", "enrollments_to_testtube", "uptake_to_datadog",
        "crashes_to_influx", "crashes_to_opentsdb", "events_to_amplitude",
        "federated_optimizer", "curate", "hygiene", "export",
        "minhash_index", "maintain", "clusters", "ann_index", "sql", "lint",
        "report", "compact", "rollup", "train", "urlcap",
    }


def test_reference_option_names_parse():
    args = build_parser().parse_args([
        "error_aggregator", "--kafka-broker", "b:9092",
        "--starting-offsets", "earliest", "--fail-on-data-loss",
        "--output-path", "/o", "--checkpoint-path", "/c",
        "--num-parquet-files", "7",
    ])
    assert args.kafka_broker == "b:9092"
    assert args.starting_offsets == "earliest"
    assert args.fail_on_data_loss and args.num_parquet_files == 7


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_batch_error_aggregator_e2e(spark, tmp_path):
    """--input-path with --from/--to date dirs -> date-partitioned
    parquet, matching the reference's batch mode."""
    for day, n in (("20240101", 3), ("20240102", 2), ("20240103", 1)):
        d = tmp_path / "in" / day
        d.mkdir(parents=True)
        (d / "pings.jsonl").write_text(
            "\n".join(main_ping() for _ in range(n)) + "\n"
        )
    out = tmp_path / "out"
    main([
        "error_aggregator",
        "--input-path", str(tmp_path / "in"),
        "--from", "20240101", "--to", "20240102",
        "--output-path", str(out), "--num-parquet-files", "2",
    ], spark=spark)
    got = spark.read.parquet(str(out))
    assert got.count() > 0
    # the --to bound excluded 20240103's ping; each ping contributes
    # 2 rows via the experiment fan-out (its experiment + (null,null))
    assert got.agg({"count": "sum"}).first()[0] == 10


def test_crashes_to_influx_offline_sink(spark, tmp_path):
    """--output-path fallback writes the exact line-protocol bodies."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "crashes.jsonl").write_text(crash_ping() + "\n")
    out = tmp_path / "lines"
    main([
        "crashes_to_influx",
        "--input-path", str(src),
        "--output-path", str(out),
        "--measurement", "crashes",
    ], spark=spark)
    lines = spark.read.text(str(out)).collect()
    assert lines and all(r.value.startswith("crashes,") for r in lines)


@pytest.mark.parametrize("job", ["crashes_to_influx", "crashes_to_opentsdb"])
def test_crashes_measurement_names_the_metric(spark, tmp_path, job):
    """--measurement names the influx measurement and the OpenTSDB
    metric alike (SURVEY P25: both targets format the one measurement
    name, CrashesToInflux.scala:13-22, CrashesToOpenTsdb.scala:13-30)."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "crashes.jsonl").write_text(crash_ping() + "\n")
    out = tmp_path / "lines"
    main([job, "--input-path", str(src), "--output-path", str(out),
          "--measurement", "crash_counts"], spark=spark)
    lines = [r.value for r in spark.read.text(str(out)).collect()]
    assert lines
    if job == "crashes_to_influx":
        assert all(v.startswith("crash_counts,") for v in lines)
    else:
        assert all(json.loads(v)["metric"] == "crash_counts" for v in lines)


def test_explain_mode_runs_nothing(spark, tmp_path, capsys):
    """--explain prints a physical plan and must not create output."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(main_ping() + "\n")
    out = tmp_path / "out"
    main([
        "error_aggregator", "--input-path", str(src),
        "--output-path", str(out), "--explain",
    ], spark=spark)
    assert "Physical Plan" in capsys.readouterr().out
    assert not out.exists()


def test_missing_required_option_errors(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(main_ping() + "\n")
    with pytest.raises(SystemExit):
        main(["error_aggregator", "--input-path", str(src)], spark=spark)


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_heka_format_source(spark, tmp_path):
    """--format heka reads the reference's wire format end-to-end."""
    from telemetry_streaming_spark.sources import heka

    def telemetry_message(ping_json):
        ping = json.loads(ping_json)
        meta = ping.pop("meta")
        ts = meta.pop("Timestamp")
        fields = dict(meta)
        fields["submission"] = json.dumps(ping)
        return heka.encode_message(fields, timestamp=ts, msg_uuid=b"\x01" * 16)

    src = tmp_path / "in"
    src.mkdir()
    payload = heka.frame_stream([telemetry_message(main_ping()) for _ in range(2)])
    (src / "day.heka").write_bytes(payload)
    out = tmp_path / "out"
    main([
        "error_aggregator", "--format", "heka",
        "--input-path", str(src), "--output-path", str(out),
    ], spark=spark)
    got = spark.read.parquet(str(out))
    # 2 pings x experiment fan-out
    assert got.agg({"count": "sum"}).first()[0] == 4


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_explain_wires_every_job(spark, tmp_path, capsys):
    """--explain must build each job's full plan (catching wiring bugs
    like wrong transform signatures) without executing anything."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(main_ping() + "\n")
    stream = tmp_path / "stream"
    stream.mkdir()
    (stream / "s.jsonl").write_text(main_ping() + "\n")

    from tests.test_events_to_amplitude import FOCUS_CONFIG

    config = tmp_path / "focus.json"
    config.write_text(json.dumps(FOCUS_CONFIG))
    etl_jobs = [
        ["error_aggregator"], ["experiments_error_aggregator"],
        ["event_ping_events"], ["experiment_enrollments"],
        ["enrollments_to_testtube"], ["uptake_to_datadog"],
        ["crashes_to_influx"], ["crashes_to_opentsdb"],
        ["events_to_amplitude", "--config", str(config)],
    ]
    for job in etl_jobs:
        main(job + ["--input-path", str(src), "--explain"], spark=spark)
        main(job + ["--stream-input", str(stream), "--explain"], spark=spark)
    main([
        "federated_optimizer", "--stream-input", str(stream),
        "--state-path", str(tmp_path / "st"),
        "--model-output-path", str(tmp_path / "m"),
        "--checkpoint-path", str(tmp_path / "ck"),
        "--explain",
    ], spark=spark)
    assert capsys.readouterr().out.count("== Physical Plan ==") == 2 * len(etl_jobs) + 1


def test_event_ping_events_batch_is_date_partitioned(spark, tmp_path):
    """Batch output carries submission_date_s3 and is partitioned by
    it, like the streaming sink (EventPingEvents.scala:67-77)."""
    from tests.fixtures import event_ping

    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(event_ping() + "\n")
    out = tmp_path / "out"
    main(["event_ping_events", "--input-path", str(src), "--output-path", str(out)],
         spark=spark)
    assert [d for d in os.listdir(out) if not d.startswith(("_", "."))] == [
        "submission_date_s3=20160407"
    ]
    got = spark.read.parquet(str(out)).collect()
    assert len(got) == 4 and {str(r.submission_date_s3) for r in got} == {"20160407"}


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_cli_curate_end_to_end(spark, tmp_path, capsys):
    """The curation funnel as an operable job: documents parquet in,
    split-partitioned curated parquet + printed stage funnel out."""
    from telemetry_streaming_spark.cli import main

    out = str(tmp_path / "curated")
    main(
        [
            "curate",
            "--input-path", "/root/testdata/sf0.001/documents.parquet",
            "--output-path", out,
            "--num-parquet-files", "2",
            "--min-tokens", "3",
            "--min-quality", "0.0",
            "--keep-langs", "en,es,fr,de,zh,und",
        ],
        spark=spark,
    )
    curated = spark.read.parquet(out)
    assert set(curated.select("split").distinct().toPandas()["split"]) <= {"train", "eval"}
    assert "redacted" in curated.columns
    assert curated.count() > 0
    printed = capsys.readouterr().out
    assert "input:" in printed or "gated" in printed or printed.strip()


def test_raise_on_error_batch_trips_on_malformed_ping(spark, tmp_path):
    """Default batch run silently drops undecodable JSON (PERMISSIVE
    parity); --raise-on-error surfaces the same row as a nonzero exit
    (ErrorAggregatorBase.scala:220), counted in the SAME pass via
    df.observe — no second scan."""
    from telemetry_streaming_spark.observability import ParseRejectionError

    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(main_ping() + "\n{not valid json\n")

    out1 = tmp_path / "out1"
    main([
        "error_aggregator", "--input-path", str(src), "--output-path", str(out1),
    ], spark=spark)
    assert spark.read.parquet(str(out1)).count() > 0  # bad row dropped, job green

    out2 = tmp_path / "out2"
    with pytest.raises(ParseRejectionError, match="1 of 2"):
        main([
            "error_aggregator", "--input-path", str(src),
            "--output-path", str(out2), "--raise-on-error",
        ], spark=spark)


def test_default_batch_run_reports_parse_guard_counts(spark, tmp_path):
    """The parse_guard observation is always on: without
    --raise-on-error a batch run with one malformed row exits 0, and
    write_batch returns the counts the CLI would have raised on."""
    from telemetry_streaming_spark.jobs import error_aggregator

    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(main_ping() + "\n{not valid json\n")
    main(["error_aggregator", "--input-path", str(src),
          "--output-path", str(tmp_path / "out1")], spark=spark)
    counts = error_aggregator.write_batch(
        spark.read.text(str(src)), str(tmp_path / "out2"), num_files=1
    )
    assert counts == {"rows_seen": 2, "rows_rejected": 1}


def test_explain_prints_the_guarded_plan(spark, tmp_path, capsys):
    """--explain prints the plan that runs, parse_guard node included."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(main_ping() + "\n")
    main(["error_aggregator", "--input-path", str(src), "--explain"], spark=spark)
    assert "CollectMetrics" in capsys.readouterr().out


def test_experiments_error_aggregator_shares_the_base_writer(spark, tmp_path):
    """ExperimentsErrorAggregator extends ErrorAggregatorBase: its
    batch output is date-partitioned and --raise-on-error applies."""
    from telemetry_streaming_spark.observability import ParseRejectionError

    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(main_ping() + "\n")
    out = tmp_path / "out"
    main(["experiments_error_aggregator", "--input-path", str(src),
          "--output-path", str(out), "--num-parquet-files", "1"], spark=spark)
    assert any(d.startswith("submission_date_s3=") for d in os.listdir(out))
    got = spark.read.parquet(str(out))
    assert "build_id" not in got.columns
    assert got.agg({"count": "sum"}).first()[0] == 2  # experiment1 + null slice

    (src / "bad.jsonl").write_text("{not valid json\n")
    with pytest.raises(ParseRejectionError, match="1 of 2"):
        main(["experiments_error_aggregator", "--input-path", str(src),
              "--output-path", str(tmp_path / "out2"), "--raise-on-error"], spark=spark)


def test_raise_on_error_only_on_guarded_jobs():
    """--raise-on-error exists only where a parse_guard plan reads it;
    elsewhere it is an unknown option."""
    parser = build_parser()
    sub = next(a for a in parser._actions if a.dest == "job")
    guarded = {
        name for name, p in sub.choices.items()
        if any("--raise-on-error" in a.option_strings for a in p._actions)
    }
    assert guarded == {"error_aggregator", "experiments_error_aggregator", "uptake_to_datadog"}
    with pytest.raises(SystemExit):
        main(["events_to_amplitude", "--input-path", "/x", "--raise-on-error"])


def test_num_parquet_files_only_on_error_aggregators():
    """Of the ETL jobs only the error aggregators read
    --num-parquet-files; elsewhere it is an unknown option."""
    sub = next(a for a in build_parser()._actions if a.dest == "job")
    etl = ["error_aggregator", "experiments_error_aggregator", "event_ping_events",
           "experiment_enrollments", "enrollments_to_testtube", "uptake_to_datadog",
           "crashes_to_influx", "crashes_to_opentsdb", "events_to_amplitude",
           "federated_optimizer"]
    assert {
        name for name in etl
        if any("--num-parquet-files" in a.option_strings for a in sub.choices[name]._actions)
    } == {"error_aggregator", "experiments_error_aggregator"}
    with pytest.raises(SystemExit):
        main(["event_ping_events", "--input-path", "/x", "--num-parquet-files", "2"])


def test_raise_on_error_batch_clean_input_passes(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(main_ping() + "\n" + main_ping() + "\n")
    out = tmp_path / "out"
    main([
        "error_aggregator", "--input-path", str(src),
        "--output-path", str(out), "--raise-on-error",
    ], spark=spark)
    assert spark.read.parquet(str(out)).count() > 0


def test_raise_on_error_uptake_to_datadog(spark, tmp_path):
    """UptakeEventsToDatadog.scala:117-118 parity: undecodable
    envelope -> nonzero exit under --raise-on-error, silent drop
    without."""
    from telemetry_streaming_spark.observability import ParseRejectionError

    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(main_ping() + "\nnot-json\n")

    out1 = tmp_path / "m1"
    main([
        "uptake_to_datadog", "--input-path", str(src), "--output-path", str(out1),
    ], spark=spark)  # default: no raise

    out2 = tmp_path / "m2"
    with pytest.raises(ParseRejectionError, match="1 of 2"):
        main([
            "uptake_to_datadog", "--input-path", str(src),
            "--output-path", str(out2), "--raise-on-error",
        ], spark=spark)


@pytest.mark.parametrize("raise_on_error", [False, True])
def test_uptake_to_datadog_batch_statsd(spark, tmp_path, raise_on_error):
    """Batch push to a DogStatsD UDP socket finishes, with and without
    --raise-on-error.  The push is an RDD job that never completes the
    parse_guard observation, so reading it would block forever; the
    raise path recounts instead."""
    import socket

    from telemetry_streaming_spark.observability import ParseRejectionError
    from tests.fixtures import event_ping

    ev = [5, "normandy", "enroll", "preference_study", "pref-flip", {"branch": "six"}]
    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(event_ping(events={"dynamic": [ev]}) + "\nnot-json\n")
    recv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    recv.bind(("127.0.0.1", 0))
    recv.settimeout(5)
    argv = ["uptake_to_datadog", "--input-path", str(src), "--statsd-host", "127.0.0.1",
            "--statsd-port", str(recv.getsockname()[1])]
    try:
        if raise_on_error:
            with pytest.raises(ParseRejectionError, match="1 of 2"):
                main(argv + ["--raise-on-error"], spark=spark)
        else:
            main(argv, spark=spark)
        data = recv.recv(1024).decode()
    finally:
        recv.close()
    assert data.startswith("telemetry.normandy.preference_study.enroll:1|c")


def test_cli_hygiene_end_to_end(spark, tmp_path, capsys):
    """Corpus hygiene as an operable job: decontaminate against a
    benchmark, chunk-dedup the rest, write the cleaned corpus and a
    dup-window report."""
    import pyspark.sql.functions as F

    from telemetry_streaming_spark.cli import main

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench_dir = str(tmp_path / "bench")
    docs.where(F.col("doc_id") % 17 == 0).write.parquet(bench_dir)
    out = str(tmp_path / "clean")
    report = str(tmp_path / "dup_report")
    main(
        [
            "hygiene",
            "--input-path", "/root/testdata/sf0.001/documents.parquet",
            "--output-path", out,
            "--benchmark-path", bench_dir,
            "--min-tokens", "3",
            "--dup-report-path", report,
            "--num-parquet-files", "2",
        ],
        spark=spark,
    )
    cleaned = spark.read.parquet(out)
    n_docs = docs.count()
    assert 0 < cleaned.count() < n_docs  # decontamination + dedup removed some
    # benchmark members were the contamination source, not the input
    # split — but any doc sharing a 4-gram with them is gone
    rep = spark.read.parquet(report)
    assert rep.count() == n_docs
    assert {"doc_id", "n_windows", "dup_windows", "dup_fraction"} <= set(rep.columns)
    printed = capsys.readouterr().out
    assert "docs_in:" in printed and "docs_out:" in printed


def test_cli_export_end_to_end(spark, tmp_path, capsys):
    """Sharded training export as an operable job: corpus in, one file
    per shard dir out, recomputable manifest next to it."""
    import glob

    from telemetry_streaming_spark.cli import main

    out = str(tmp_path / "shards")
    manifest = str(tmp_path / "manifest")
    main(
        [
            "export",
            "--input-path", "/root/testdata/sf0.001/documents.parquet",
            "--output-path", out,
            "--manifest-path", manifest,
            "--num-shards", "8",
            "--salt", "epoch0",
            "--size-col", "n_chars",
        ],
        spark=spark,
    )
    dirs = glob.glob(os.path.join(out, "shard=*"))
    assert len(dirs) == 8
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1
    m = spark.read.parquet(manifest)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert m.count() == 8
    assert m.agg({"n_rows": "sum"}).collect()[0][0] == docs.count()
    printed = capsys.readouterr().out
    assert "shards: 8" in printed


def test_raise_on_error_counts_null_reject_rule(spark, tmp_path):
    """A core ping with payload.os NULL makes the reject rule NULL:
    prepare() drops the row (allowed & ~NULL filters it), so
    --raise-on-error must count it as rejected — coalescing NULL to
    not-rejected would exit 0 while input was silently dropped."""
    import json as _json

    from telemetry_streaming_spark.observability import ParseRejectionError
    from tests.fixtures import core_ping

    ping = _json.loads(core_ping())
    del ping["payload"]["os"]
    src = tmp_path / "in"
    src.mkdir()
    (src / "pings.jsonl").write_text(_json.dumps(ping) + "\n")

    out1 = tmp_path / "out1"
    main(["error_aggregator", "--input-path", str(src), "--output-path", str(out1)],
         spark=spark)  # default: dropped silently, job green

    out2 = tmp_path / "out2"
    with pytest.raises(ParseRejectionError, match="1 of 1"):
        main(["error_aggregator", "--input-path", str(src),
              "--output-path", str(out2), "--raise-on-error"], spark=spark)


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_cli_curate_reliable_checkpoint(spark, tmp_path):
    """`curate --near-dup minhash --checkpoint-mode reliable` must set
    the session checkpoint dir, write RDD checkpoints there, and
    produce the same curated corpus as local mode."""
    from telemetry_streaming_spark.cli import main

    ckpt = tmp_path / "reliable_ckpt"
    outs = {}
    for mode, extra in (
        ("local", []),
        ("reliable", ["--checkpoint-mode", "reliable", "--checkpoint-dir", str(ckpt)]),
    ):
        out = str(tmp_path / f"curated_{mode}")
        main(
            [
                "curate",
                "--input-path", "/root/testdata/sf0.001/documents.parquet",
                "--output-path", out,
                "--num-parquet-files", "2",
                "--min-tokens", "3",
                "--min-quality", "0.0",
                "--keep-langs", "en,es,fr,de,zh,und",
                "--near-dup", "minhash",
            ] + extra,
            spark=spark,
        )
        outs[mode] = {
            r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
        }
    assert outs["local"] == outs["reliable"]
    # the reliable run actually materialized checkpoints in the dir
    assert any(ckpt.rglob("*")), "no RDD checkpoint files written"


def test_cli_curate_reliable_requires_dir():
    from telemetry_streaming_spark.cli import main

    with pytest.raises(SystemExit):
        main([
            "curate", "--input-path", "/x", "--output-path", "/y",
            "--checkpoint-mode", "reliable",
        ])


def test_raise_on_error_uptake_streaming_trips(spark, tmp_path):
    """Streaming UptakeEventsToDatadog under --raise-on-error
    (UptakeEventsToDatadog.scala:117-118): a malformed envelope in the
    stream trips the parse_guard listener, stops the query, and raises
    — same guard machinery as error_aggregator's streaming mode."""
    from telemetry_streaming_spark.observability import ParseRejectionError

    src = tmp_path / "stream_in"
    src.mkdir()
    (src / "pings.jsonl").write_text(main_ping() + "\nnot-json\n")
    with pytest.raises(ParseRejectionError):
        main([
            "uptake_to_datadog", "--stream-input", str(src),
            "--output-path", str(tmp_path / "m"),
            "--checkpoint-path", str(tmp_path / "ckpt"),
            "--raise-on-error",
        ], spark=spark)


def test_uptake_streaming_parquet_metrics(spark, tmp_path):
    """Streaming uptake metrics land in the append parquet sink with
    the same rows the batch path produces (the query is stopped via
    the handle once the first micro-batch commits)."""
    import time as _time

    from telemetry_streaming_spark.jobs import uptake_to_datadog as job
    from telemetry_streaming_spark.streaming.core import (
        drain,
        stop_quietly,
        text_file_source,
    )
    from tests.fixtures import event_ping

    ev = [5, "normandy", "enroll", "preference_study", "exp1", {"branch": "b1"}]
    ping = event_ping(events={"dynamic": [ev]})
    src = tmp_path / "in2"
    src.mkdir()
    (src / "pings.jsonl").write_text(ping + "\n")
    m, _ = job.metrics(text_file_source(spark, str(src)))
    q = (
        m.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("append")
        .start()
    )
    try:
        drain(q)
    finally:
        stop_quietly(q)
    got = spark.read.parquet(str(tmp_path / "out"))
    batch, _ = job.metrics(spark.createDataFrame([(ping,)], "value string"))
    assert sorted(r.name for r in got.collect()) == sorted(
        r.name for r in batch.collect()
    )


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_cli_minhash_index_two_night_flow(spark, tmp_path, capsys):
    """Nightly admission e2e: night 0 builds the band index from the
    corpus; night 1 admits a batch (planted near-dup rejected, novel
    doc admitted) and appends the admitted bands; re-running the same
    batch on night 2 then rejects the night-1 admit as a dup of the
    now-indexed copy."""
    from telemetry_streaming_spark.cli import main

    base = "the quick brown fox jumps over the lazy dog again and again %d"
    corpus = spark.createDataFrame(
        [(i, base % (i % 7)) for i in range(30)], "doc_id long, text string"
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    idx = str(tmp_path / "idx")
    main(["minhash_index", "--mode", "build",
          "--input-path", corpus_path, "--index-path", idx], spark=spark)
    index = spark.read.parquet(idx)
    assert index.columns == ["doc_id", "band_key", "band"] or set(index.columns) == {
        "doc_id", "band", "band_key"
    }
    assert index.count() == 30 * 4  # one row per (doc, band)

    batch = spark.createDataFrame(
        [(200, base % 1),  # near-dup of corpus doc 1
         (201, "completely unrelated fresh text with novel vocabulary entirely")],
        "doc_id long, text string",
    )
    batch_path = str(tmp_path / "batch")
    batch.write.parquet(batch_path)
    out1 = str(tmp_path / "admitted1")
    main(["minhash_index", "--mode", "admit",
          "--input-path", batch_path, "--corpus-path", corpus_path,
          "--index-path", idx, "--output-path", out1, "--update-index"],
         spark=spark)
    admitted = {r.doc_id for r in spark.read.parquet(out1).collect()}
    assert admitted == {201}
    printed = capsys.readouterr().out
    assert "admitted: 1" in printed and "rejected: 1" in printed
    # the admitted doc's bands landed in the index
    assert spark.read.parquet(idx).count() == 31 * 4

    # night 2: same batch vs grown corpus+index -> 201 is now a dup of
    # its own indexed copy (id 201 in the corpus would be itself; use
    # the grown corpus = corpus + admitted docs, as a deployment would)
    grown = str(tmp_path / "grown")
    corpus.union(spark.read.parquet(out1)).write.parquet(grown)
    out2 = str(tmp_path / "admitted2")
    main(["minhash_index", "--mode", "admit",
          "--input-path", batch_path, "--corpus-path", grown,
          "--index-path", idx, "--output-path", out2], spark=spark)
    assert spark.read.parquet(out2).count() == 0


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_cli_ann_index_build_and_query(spark, tmp_path, capsys):
    """Persisted IVF index e2e: build partitions the corpus by
    ivf_cluster; query against the persisted index returns exactly the
    same neighbors as the in-memory cosine_topk_ivf with the same
    seeds/params, and the assignments land cluster-partitioned."""
    import os

    from telemetry_streaming_spark.cli import main
    from telemetry_streaming_spark.operators.similarity import cosine_topk_ivf

    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "ann")
    main(["ann_index", "--mode", "build",
          "--input-path", emb_path, "--index-path", idx,
          "--nlist", "8", "--iters", "2"], spark=spark)
    assign_dir = os.path.join(idx, "assignments")
    assert any(d.startswith("ivf_cluster=") for d in os.listdir(assign_dir))
    printed = capsys.readouterr().out
    assert "clusters: 8" in printed

    emb = spark.read.parquet(emb_path)
    queries = (
        emb.orderBy("vec_id").limit(5)
        .selectExpr("vec_id AS query_id", "embedding AS query_vec")
    )
    qpath = str(tmp_path / "queries")
    queries.write.parquet(qpath)
    out = str(tmp_path / "topk")
    main(["ann_index", "--mode", "query",
          "--input-path", qpath, "--index-path", idx,
          "--output-path", out, "--k", "3", "--nprobe", "4"], spark=spark)
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in spark.read.parquet(out).collect()
    }
    expect = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk_ivf(emb, queries, k=3, nlist=8, nprobe=4, iters=2).collect()
    }
    assert got == expect and len(got) == 15
    # the probed-cluster set lands as a STATIC partition filter on the
    # persisted index scan — the read-less-than-the-corpus contract
    from telemetry_streaming_spark.operators.similarity import cosine_topk_ivf_index

    index = spark.read.parquet(assign_dir)
    cents = [
        [float(x) for x in r["centroid"]]
        for r in spark.read.parquet(os.path.join(idx, "centroids"))
        .orderBy("ivf_cluster").collect()
    ]
    probe = cosine_topk_ivf_index(index, cents, queries, k=3, nprobe=2)
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PartitionFilters: [ivf_cluster" in l and " IN " in l
        for l in plan.splitlines()
    ), plan[:1200]


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_cli_minhash_index_streaming_admission(spark, tmp_path, capsys):
    """Continuous admission: a checkpointed parquet stream drains with
    availableNow; batch 2 (a later invocation, same checkpoint) sees
    batch 1's admitted docs in the grown index and rejects their
    near-dups, and the checkpoint prevents reprocessing batch 1's
    file."""
    import os

    from telemetry_streaming_spark.cli import main

    base = "the quick brown fox jumps over the lazy dog again and again %d"
    corpus = spark.createDataFrame(
        [(i, base % (i % 7)) for i in range(30)], "doc_id long, text string"
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    idx = str(tmp_path / "idx")
    main(["minhash_index", "--mode", "build",
          "--input-path", corpus_path, "--index-path", idx], spark=spark)

    watch = tmp_path / "incoming"
    watch.mkdir()
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "stream_ckpt")
    novel = "a genuinely novel document about distributed execution engines"
    spark.createDataFrame(
        [(200, base % 1), (201, novel)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(watch / "night1"))
    args = ["minhash_index", "--mode", "admit",
            "--stream-input", str(watch) + "/*", "--corpus-path", corpus_path,
            "--index-path", idx, "--output-path", out,
            "--checkpoint-path", ckpt, "--update-index"]
    main(args, spark=spark)
    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted == {201}

    # night 2: near-dup of the night-1 admit + one new novel doc
    spark.createDataFrame(
        [(300, novel + " again and again"), (301, "completely different fresh words entirely")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(watch / "night2"))
    main(args, spark=spark)
    admitted2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 301 in admitted2 and 300 not in admitted2
    # night-1 rows were not reprocessed (checkpoint) and survive once
    assert admitted2 == {201, 301}


def test_cli_sql_adhoc(spark, tmp_path, capsys):
    """The sql job registers every testdata table as a view and runs
    an arbitrary statement through the engine session."""
    from telemetry_streaming_spark.cli import main

    out = str(tmp_path / "res")
    main([
        "sql", "--sf-dir", "/root/testdata/sf0.001",
        "--query",
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1",
        "--output-path", out,
    ], spark=spark)
    got = spark.read.parquet(out)
    assert got.count() == 5 and set(got.columns) == {"o_orderpriority", "n"}
    main([
        "sql", "--sf-dir", "/root/testdata/sf0.001",
        "--query", "SELECT COUNT(*) AS n FROM documents",
    ], spark=spark)
    assert "500" in capsys.readouterr().out
    main([
        "sql", "--sf-dir", "/root/testdata/sf0.001",
        "--query", "SELECT COUNT(*) AS n FROM lineitem", "--explain",
    ], spark=spark)
    assert "Physical Plan" in capsys.readouterr().out


def test_cli_report_dataset_card(spark, tmp_path, capsys):
    """The report job emits a self-consistent dataset card: totals sum
    across sources, leakage counts match the registry query, span
    accounting matches dup_span_stats."""
    import json as _json

    from telemetry_streaming_spark.cli import main

    out = str(tmp_path / "card.json")
    main([
        "report", "--input-path", "/root/testdata/sf0.001/documents.parquet",
        "--output-path", out,
    ], spark=spark)
    card = _json.loads(open(out).read())
    assert card["n_docs"] == 500
    assert card["n_docs"] == sum(v["n_docs"] for v in card["per_source"].values())
    assert card["n_tokens"] == sum(v["n_tokens"] for v in card["per_source"].values())
    assert set(card["duplicated_spans"]) == set(card["per_source"])
    for v in card["per_source"].values():
        assert v["p50_tokens"] <= v["p99_tokens"]
    assert card["cross_source_leakage"]["dup_groups"] >= 0


def test_cli_compact_small_files(spark, tmp_path, capsys):
    """Many tiny files in, few sized files out, rows preserved; sorted
    clustering tightens per-file min/max ranges."""
    import os

    from telemetry_streaming_spark.cli import main

    src = str(tmp_path / "tiny")
    spark.range(20_000).selectExpr(
        "id", "id % 97 AS k", "CAST(id AS STRING) AS payload"
    ).repartition(64).write.parquet(src)
    n_in = len([f for _, _, fs in os.walk(src) for f in fs if f.endswith(".parquet")])
    assert n_in >= 32

    out = str(tmp_path / "compacted")
    main(["compact", "--input-path", src, "--output-path", out,
          "--target-file-mb", "1", "--sort-by", "k"], spark=spark)
    n_out = len([f for _, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")])
    assert 0 < n_out < n_in
    got = spark.read.parquet(out)
    assert got.count() == 20_000
    assert got.agg({"id": "sum"}).first()[0] == sum(range(20_000))


def _doc_corpus(spark, tmp_path, name="docs"):
    """Half clean english-looking docs, half punctuation gibberish."""
    rows = [
        (i,
         ("the quick brown fox jumps over the lazy dog again " * 3
          + f"variant{i}")
         if i % 2 == 0 else ("@@!! ## %% ^^ && ** " * 3 + f"noise{i}"),
         "en" if i % 2 == 0 else "zz")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    p = str(tmp_path / name)
    df.write.mode("overwrite").parquet(p)
    return p


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_cli_train_quality_logit_writes_deployable_weights(spark, tmp_path):
    docs = _doc_corpus(spark, tmp_path)
    model = str(tmp_path / "quality.json")
    main([
        "train", "--input-path", docs, "--task", "quality-logit",
        "--model-path", model, "--label-sql", "lang = 'en'",
    ], spark=spark)
    art = json.loads(open(model).read())
    w = art["weights"]
    assert art["iterations"] >= 1
    assert set(w) == {"bias", "len", "punct", "atl"}
    # deploy: the trained weights must separate the two classes
    from pyspark.sql import functions as F

    from telemetry_streaming_spark.functions.text import quality_logit

    weights = (w["bias"], w["len"], w["punct"], w["atl"])
    scored = (
        spark.read.parquet(docs)
        .select("lang", quality_logit(F.col("text"), weights).alias("logit"))
        .collect()
    )
    for r in scored:
        assert (r.logit > 0) == (r.lang == "en"), r


def test_cli_train_bpe_writes_merge_list(spark, tmp_path):
    docs = _doc_corpus(spark, tmp_path)
    model = str(tmp_path / "bpe.json")
    main([
        "train", "--input-path", docs, "--task", "bpe",
        "--model-path", model, "--n-merges", "6",
    ], spark=spark)
    art = json.loads(open(model).read())
    assert len(art["merges"]) == 6
    for a, b, cnt in art["merges"]:
        assert isinstance(a, str) and isinstance(b, str) and cnt >= 2


def test_cli_train_lm_then_hygiene_perplexity_gate(spark, tmp_path):
    """train --task lm persists the gram table; hygiene --lm-path
    --lm-max-nlp drops the gibberish docs the LM finds unnatural."""
    # LM trained on the CLEAN half only
    clean = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog again " * 3)
         for i in range(10)],
        "doc_id long, text string",
    )
    lm_src = str(tmp_path / "lm_src")
    clean.write.mode("overwrite").parquet(lm_src)
    lm_model = str(tmp_path / "lm_model")
    main([
        "train", "--input-path", lm_src, "--task", "lm",
        "--model-path", lm_model, "--num-parquet-files", "2",
    ], spark=spark)
    assert spark.read.parquet(lm_model).count() > 0

    docs = _doc_corpus(spark, tmp_path, "mixed")
    out = str(tmp_path / "hyg_out")
    main([
        "hygiene", "--input-path", docs, "--output-path", out,
        "--lm-path", lm_model, "--lm-max-nlp", "1.5",
        "--chunk-words", "1000", "--num-parquet-files", "2",
    ], spark=spark)
    kept = spark.read.parquet(out)
    langs = {r.lang for r in kept.select("lang").distinct().collect()}
    assert langs == {"en"}  # every gibberish doc gated out
    assert kept.count() == 10


def test_cli_train_unknown_task_and_missing_opts_error(spark, tmp_path):
    docs = _doc_corpus(spark, tmp_path)
    with pytest.raises(SystemExit):
        main(["train", "--input-path", docs, "--task", "quality-logit",
              "--model-path", str(tmp_path / "m.json")], spark=spark)  # no label
    with pytest.raises(SystemExit):
        main(["train", "--task", "bpe", "--model-path", "x"], spark=spark)


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_cli_ann_index_ivf_pq_build_and_query(spark, tmp_path):
    """IVF-PQ e2e: --pq-m at build writes codes + codebooks alongside
    the cluster-partitioned assignments; --use-pq at query scores the
    probed clusters by ADC and substantially recalls the exact IVF
    tier's neighbors without ever reading the float vector column."""
    import numpy as np

    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "annpq")
    main(["ann_index", "--mode", "build",
          "--input-path", emb_path, "--index-path", idx,
          "--nlist", "8", "--iters", "2", "--pq-m", "16"], spark=spark)
    assignments = spark.read.parquet(os.path.join(idx, "assignments"))
    assert "pq_codes" in assignments.columns
    cb = spark.read.parquet(os.path.join(idx, "codebooks"))
    assert cb.count() == 16 * 16  # m * pq_k

    emb = spark.read.parquet(emb_path)
    queries = (
        emb.orderBy("vec_id").limit(3)
        .selectExpr("vec_id AS query_id", "embedding AS query_vec")
    )
    qpath = str(tmp_path / "q")
    queries.write.parquet(qpath)
    out = str(tmp_path / "pq_topk")
    main(["ann_index", "--mode", "query", "--use-pq",
          "--input-path", qpath, "--index-path", idx,
          "--output-path", out, "--k", "10", "--nprobe", "8"], spark=spark)
    got = spark.read.parquet(out)
    assert got.count() == 30  # 3 queries x k
    # same contract as the exact tier: query_id/neighbor_id/rank,
    # self-matches excluded (adc_dist replaces cos)
    assert set(got.columns) == {"query_id", "neighbor_id", "adc_dist", "rank"}
    rows = got.collect()
    assert all(r.query_id != r.neighbor_id for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, 11)) for v in per_q.values())

    # --explain on a rebuild must leave the persisted index UNTOUCHED
    # (a codebooks overwrite under explain would silently desync the
    # stored codes from the ADC tables every later query builds)
    before = sorted(
        (r.subspace, r.code, tuple(r.centroid))
        for r in spark.read.parquet(os.path.join(idx, "codebooks")).collect()
    )
    main(["ann_index", "--mode", "build",
          "--input-path", emb_path, "--index-path", idx,
          "--nlist", "8", "--iters", "1", "--pq-m", "8", "--explain"],
         spark=spark)
    after = sorted(
        (r.subspace, r.code, tuple(r.centroid))
        for r in spark.read.parquet(os.path.join(idx, "codebooks")).collect()
    )
    assert after == before


def test_cli_curate_token_budget_bounds_each_source(spark, tmp_path):
    """--token-budget-per-source caps every source's token total at
    budget + (one boundary-crossing doc), deterministically."""
    from telemetry_streaming_spark.functions.text import token_count
    from pyspark.sql import functions as F

    rows = [
        # 21 tokens each, distinct (exact-dedup upstream must keep all)
        (i, " ".join(f"w{j}" for j in range(20)) + f" doc{i}",
         "en", "big" if i < 30 else "small")
        for i in range(36)
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(src)
    out = str(tmp_path / "curated")
    main([
        "curate", "--input-path", src, "--output-path", out,
        "--min-tokens", "1", "--min-quality", "0.0",
        "--keep-langs", "en,und", "--eval-rate", "0.0",
        "--num-parquet-files", "2", "--token-budget-per-source", "100",
    ], spark=spark)
    got = spark.read.parquet(out)
    totals = {
        r.source: r.t
        for r in got.groupBy("source")
        .agg(F.sum(token_count(F.col("text"))).alias("t"))
        .collect()
    }
    # budget 100, docs are 21 tokens: 5 docs survive per source (the
    # 5th STARTS at 84 < 100, the 6th would start at 105) = 105 tokens
    assert totals == {"big": 105, "small": 105}


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_cli_maintain_admit_compact_verify_with_crash_restart(spark, tmp_path, capsys):
    """The orchestrated nightly loop: admit -> compact -> re-probe
    verify in one invocation, idempotent under a kill at every stage
    boundary.  After each simulated crash the rerun must converge to a
    content-identical index (same row multiset) and an unchanged
    admitted set."""
    import os
    import shutil

    from telemetry_streaming_spark.cli import _index_content_stats, main

    base = "the quick brown fox jumps over the lazy dog again and again %d"
    corpus = spark.createDataFrame(
        [(i, base % (i % 7)) for i in range(30)], "doc_id long, text string"
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    idx = str(tmp_path / "idx")
    main(["minhash_index", "--mode", "build",
          "--input-path", corpus_path, "--index-path", idx], spark=spark)

    watch = tmp_path / "incoming"
    watch.mkdir()
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")
    novel = "a genuinely novel document about distributed execution engines"
    spark.createDataFrame(
        [(200, base % 1), (201, novel)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(watch / "night1"))
    args = ["maintain",
            "--stream-input", str(watch) + "/*", "--corpus-path", corpus_path,
            "--index-path", idx, "--output-path", out,
            "--checkpoint-path", ckpt, "--target-file-mb", "64"]

    main(args, spark=spark)
    out1 = capsys.readouterr().out
    assert "maintain_reprobe_found: 1" in out1 and "maintain_admitted_total: 1" in out1
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {201}
    fp = _index_content_stats(spark, idx)

    # crash A: killed between admit and compact (nothing new to admit;
    # the checkpoint makes the admit stage a no-op on rerun)
    main(args, spark=spark)
    capsys.readouterr()
    assert _index_content_stats(spark, idx) == fp
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {201}

    # crash B: killed mid-swap, after rename(live -> .old) — live is
    # missing, the verified staging is gone (already renamed in) or
    # present; reconstruct the worst state: live gone, staging present
    shutil.copytree(idx, idx + ".staging")
    shutil.move(idx, idx + ".old")
    os.rename(idx + ".old", idx + ".old")  # keep .old too: both leftovers
    main(args, spark=spark)
    capsys.readouterr()
    assert not os.path.exists(idx + ".staging") and not os.path.exists(idx + ".old")
    assert _index_content_stats(spark, idx) == fp

    # crash C: killed after the swap, before cleanup — stale .old
    # beside a healthy live index
    shutil.copytree(idx, idx + ".old")
    main(args, spark=spark)
    capsys.readouterr()
    assert not os.path.exists(idx + ".old")
    assert _index_content_stats(spark, idx) == fp

    # night 2 still admits through the maintained index: a near-dup of
    # the night-1 admit is rejected, a fresh doc is admitted
    spark.createDataFrame(
        [(300, novel + " again and again"),
         (301, "completely different fresh words entirely")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(watch / "night2"))
    main(args, spark=spark)
    out2 = capsys.readouterr().out
    assert "maintain_admitted_total: 2" in out2
    assert "maintain_reprobe_found: 2" in out2
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {201, 301}


def test_cli_rollup_incremental_with_crash_restart(spark, tmp_path, capsys):
    """Manifest-driven incremental rollup: first run materializes all
    date partitions, a second run is a no-op, a new date processes
    alone, and a simulated crash (partition written, manifest not yet
    committed) converges on rerun — the rollup always equals a direct
    full aggregate."""
    import json as _json
    import os
    import shutil

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from telemetry_streaming_spark.cli import main

    src = tmp_path / "in"
    def day(d, rows):
        spark.createDataFrame(
            [Row(event_type=t, value=float(v)) for t, v in rows]
        ).write.mode("overwrite").parquet(str(src / d))

    day("20240101", [("click", 1.25), ("click", 2.0), ("view", 0.5)])
    day("20240102", [("view", 3.0)])
    out = str(tmp_path / "roll")
    args = ["rollup", "--input-path", str(src), "--output-path", out,
            "--group-by", "event_type", "--sum-col", "value"]

    def rollup_totals():
        df = spark.read.parquet(out)
        return {
            (r["event_type"],): (r["n"], r["s"])
            for r in df.groupBy("event_type")
            .agg(F.sum("n_rows").alias("n"), F.sum("sum_value_cents").alias("s"))
            .collect()
        }

    main(args, spark=spark)
    assert "rollup_dates_processed: 2" in capsys.readouterr().out
    assert rollup_totals() == {("click",): (2, 325), ("view",): (2, 350)}

    # rerun: nothing new
    main(args, spark=spark)
    assert "rollup_dates_processed: 0" in capsys.readouterr().out

    # new date processes alone
    day("20240103", [("click", 10.0)])
    main(args, spark=spark)
    assert "rollup_dates_processed: 1" in capsys.readouterr().out
    assert rollup_totals()[("click",)] == (3, 1325)

    # crash window: partition written but manifest not committed —
    # rewind the manifest and rerun; the overwrite converges
    m = _json.loads(open(os.path.join(out, "_manifest.json")).read())
    m["dates"].remove("20240103")
    open(os.path.join(out, "_manifest.json"), "w").write(_json.dumps(m))
    main(args, spark=spark)
    assert "rollup_dates_processed: 1" in capsys.readouterr().out
    assert rollup_totals() == {("click",): (3, 1325), ("view",): (2, 350)}

    # crash window: partition half-written (dir exists, no manifest
    # entry) — overwrite mode replaces it wholesale
    shutil.rmtree(os.path.join(out, "date=20240102"))
    os.makedirs(os.path.join(out, "date=20240102"))
    m["dates"] = ["20240101", "20240103"]
    open(os.path.join(out, "_manifest.json"), "w").write(_json.dumps(m))
    main(args, spark=spark)
    capsys.readouterr()
    assert rollup_totals() == {("click",): (3, 1325), ("view",): (2, 350)}


def test_cli_rollup_hll_distinct_tier(spark, tmp_path, capsys):
    """--distinct-col persists a mergeable datasketches HLL per date;
    the union report equals the exact distinct on this cardinality
    (HLL lgK default is exact-ish below ~thousands) and is INCREMENTAL:
    a new date recomputes only its own sketch, and the union report
    over sketches matches a full recompute."""
    from pyspark.sql import Row

    from telemetry_streaming_spark.cli import main

    src = tmp_path / "in"

    def day(d, users):
        spark.createDataFrame(
            [Row(g="x", user_id=u) for u in users]
        ).write.mode("overwrite").parquet(str(src / d))

    day("20240101", [1, 2, 3, 4])
    day("20240102", [3, 4, 5])
    out = str(tmp_path / "roll")
    args = ["rollup", "--input-path", str(src), "--output-path", out,
            "--group-by", "g", "--distinct-col", "user_id"]
    main(args, spark=spark)
    o = capsys.readouterr().out
    assert "rollup_distinct[x]: 5" in o, o

    # incremental: only the new date processes; union spans all three
    day("20240103", [5, 6, 7, 8, 9])
    main(args, spark=spark)
    o = capsys.readouterr().out
    assert "rollup_dates_processed: 1" in o
    assert "rollup_distinct[x]: 9" in o, o

    # no new dates: the report still prints on demand, from sketches
    main(args + ["--report-distinct"], spark=spark)
    o = capsys.readouterr().out
    assert "rollup_dates_processed: 0" in o
    assert "rollup_distinct[x]: 9" in o, o


def test_cli_maintain_empty_first_drain_is_a_noop(spark, tmp_path, capsys):
    """A maintain run over an empty watched dir admits nothing, still
    compacts the index, and verifies trivially (0 of 0) instead of
    crashing on the missing output dir."""
    from telemetry_streaming_spark.cli import main

    corpus = spark.createDataFrame(
        [(i, "some corpus text about the quick brown fox %d" % i)
         for i in range(10)],
        "doc_id long, text string",
    )
    cp = str(tmp_path / "corpus")
    corpus.write.parquet(cp)
    idx = str(tmp_path / "idx")
    main(["minhash_index", "--mode", "build",
          "--input-path", cp, "--index-path", idx], spark=spark)
    watch = tmp_path / "incoming"
    watch.mkdir()
    main(["maintain", "--stream-input", str(watch) + "/*",
          "--corpus-path", cp, "--index-path", idx,
          "--output-path", str(tmp_path / "out"),
          "--checkpoint-path", str(tmp_path / "ck")], spark=spark)
    out = capsys.readouterr().out
    assert "maintain_admitted_total: 0" in out
    assert "maintain_reprobe_found: 0" in out


def test_cli_rollup_report_distinct_before_any_date_is_a_noop(spark, tmp_path, capsys):
    from telemetry_streaming_spark.cli import main

    src = tmp_path / "in"
    src.mkdir()
    main(["rollup", "--input-path", str(src),
          "--output-path", str(tmp_path / "roll"), "--group-by", "g",
          "--distinct-col", "user_id", "--report-distinct"], spark=spark)
    out = capsys.readouterr().out
    assert "rollup_dates_processed: 0" in out
    assert "rollup_distinct" not in out


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_cli_maintain_short_doc_does_not_poison_reprobe(spark, tmp_path, capsys):
    """A legitimately short admitted document (< shingle width tokens)
    emits no minhash bands, so it can never rediscover itself — the
    re-probe must count it outside the verification target instead of
    failing every subsequent maintain run (ADVICE r6)."""
    from telemetry_streaming_spark.cli import main

    base = "the quick brown fox jumps over the lazy dog again and again %d"
    corpus = spark.createDataFrame(
        [(i, base % (i % 5)) for i in range(20)], "doc_id long, text string"
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    idx = str(tmp_path / "idx")
    main(["minhash_index", "--mode", "build",
          "--input-path", corpus_path, "--index-path", idx], spark=spark)
    capsys.readouterr()

    watch = tmp_path / "incoming"
    watch.mkdir()
    spark.createDataFrame(
        [(100, "ok"),  # 1 token: no shingles, no bands — admitted, unverifiable
         (101, "a genuinely novel document about engines")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(watch / "night1"))
    args = ["maintain",
            "--stream-input", str(watch) + "/*", "--corpus-path", corpus_path,
            "--index-path", idx, "--output-path", str(tmp_path / "admitted"),
            "--checkpoint-path", str(tmp_path / "ckpt"),
            "--target-file-mb", "64"]

    main(args, spark=spark)  # must not raise
    out1 = capsys.readouterr().out
    assert "maintain_admitted_total: 2" in out1
    assert "maintain_admitted_banded: 1" in out1
    assert "maintain_admitted_short: 1" in out1
    assert "maintain_reprobe_found: 1" in out1

    # the poison scenario: with the short doc already in output_path,
    # every later run must still verify cleanly
    main(args, spark=spark)
    out2 = capsys.readouterr().out
    assert "maintain_reprobe_found: 1" in out2


def test_cli_maintain_compaction_honors_target_file_size(spark, tmp_path, capsys):
    """Compaction must produce ~total_bytes/target files, not ~1 file
    per band: hashing on band alone lands all rows in <= `bands`
    non-empty partitions and defeats --target-file-mb (ADVICE r6).
    Build a synthetic index big enough for several 1 MB files and
    assert the compacted file count exceeds the band count."""
    import os

    from pyspark.sql import functions as F

    from telemetry_streaming_spark.cli import main

    idx = str(tmp_path / "idx")
    # ~300k rows of incompressible band_keys across 4 bands -> several MB
    (
        spark.range(300_000)
        .select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("band"),
            F.md5(F.col("id").cast("string")).alias("band_key"),
        )
        .write.partitionBy("band")
        .parquet(idx)
    )
    watch = tmp_path / "incoming"
    watch.mkdir()
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(0, "corpus doc words here")], "doc_id long, text string"
    ).write.parquet(corpus_path)
    main(["maintain",
          "--stream-input", str(watch) + "/*", "--corpus-path", corpus_path,
          "--index-path", idx, "--output-path", str(tmp_path / "admitted"),
          "--checkpoint-path", str(tmp_path / "ckpt"),
          "--target-file-mb", "1"], spark=spark)
    out = capsys.readouterr().out
    n_files_printed = int(
        [ln for ln in out.splitlines() if ln.startswith("maintain_index_files:")][0]
        .split(":")[1]
    )
    written = [
        f
        for root, _d, fs in os.walk(idx)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert n_files_printed > 4, out  # sizing actually engaged
    # file count tracks the sizing target (within 2x: range partitions
    # can straddle band boundaries and split on write), and is far
    # beyond the 4-files-total failure mode
    assert len(written) > 4
    assert len(written) <= 2 * n_files_printed + 4


def test_cli_rollup_refuses_schema_mismatch(spark, tmp_path, capsys):
    """Adding --distinct-col (or any schema-changing flag) after
    partitions already exist must refuse loudly instead of writing
    heterogeneous date partitions (ADVICE r6)."""
    import pytest
    from pyspark.sql import Row

    from telemetry_streaming_spark.cli import main

    src = tmp_path / "in"
    spark.createDataFrame(
        [Row(event_type="click", value=1.0, user="u1")]
    ).write.parquet(str(src / "20240101"))
    out = str(tmp_path / "roll")
    base = ["rollup", "--input-path", str(src), "--output-path", out,
            "--group-by", "event_type", "--sum-col", "value"]
    main(base, spark=spark)
    capsys.readouterr()

    spark.createDataFrame(
        [Row(event_type="view", value=2.0, user="u2")]
    ).write.parquet(str(src / "20240102"))
    with pytest.raises(SystemExit, match="schema mismatch"):
        main(base + ["--distinct-col", "user"], spark=spark)

    # matching flags still work incrementally
    main(base, spark=spark)
    assert "rollup_dates_processed: 1" in capsys.readouterr().out


def test_cli_rollup_kll_quantile_tier(spark, tmp_path, capsys):
    """Mergeable KLL quantile tier: per-date sketches persist beside
    the counts; the merged report equals the exact percentiles at
    small cardinality, processes new dates incrementally, and never
    rescans committed dates."""
    import re

    from pyspark.sql import Row

    from telemetry_streaming_spark.cli import main

    src = tmp_path / "in"

    def day(d, vals):
        spark.createDataFrame(
            [Row(event_type="click", value=float(v)) for v in vals]
        ).write.mode("overwrite").parquet(str(src / d))

    # 1..100 split across two dates: exact p50=50/51-ish, p95=95, p99=99
    day("20240101", range(1, 51))
    day("20240102", range(51, 101))
    out = str(tmp_path / "roll")
    args = ["rollup", "--input-path", str(src), "--output-path", out,
            "--group-by", "event_type", "--quantile-col", "value"]
    main(args, spark=spark)
    txt = capsys.readouterr().out
    assert "rollup_dates_processed: 2" in txt
    m = re.search(r"rollup_quantiles\[click\]: p50=([\d.]+) p95=([\d.]+) p99=([\d.]+)", txt)
    assert m, txt
    p50, p95, p99 = (float(x) for x in m.groups())
    # KLL k=200 on 100 values is exact
    assert 49 <= p50 <= 52 and 94 <= p95 <= 96 and 98 <= p99 <= 100

    # incremental: a new date of large values shifts the tail only
    day("20240103", [1000.0] * 10)
    main(args, spark=spark)
    txt2 = capsys.readouterr().out
    assert "rollup_dates_processed: 1" in txt2
    m2 = re.search(r"rollup_quantiles\[click\]: p50=([\d.]+) p95=([\d.]+) p99=([\d.]+)", txt2)
    p50b, p95b, p99b = (float(x) for x in m2.groups())
    assert p99b == 1000.0 and p50b < 100

    # no new dates: report only on demand
    main(args, spark=spark)
    txt3 = capsys.readouterr().out
    assert "rollup_quantiles" not in txt3
    main(args + ["--report-quantiles"], spark=spark)
    assert "rollup_quantiles[click]" in capsys.readouterr().out

    # schema guard covers the new tier too
    import pytest

    with pytest.raises(SystemExit, match="schema mismatch"):
        day("20240104", [1.0])
        main(["rollup", "--input-path", str(src), "--output-path", out,
              "--group-by", "event_type"], spark=spark)


def test_cli_rollup_legacy_manifest_still_guards_schema(spark, tmp_path, capsys):
    """r8 (r7 ADVICE): a manifest written before the 'columns' key
    existed must NOT disable the schema-mismatch guard — the committed
    schema is inferred from one date partition, so adding a flag (here
    --distinct-col) on a legacy rollup refuses instead of silently
    writing heterogeneous partitions.  A matching re-invocation still
    proceeds and upgrades the manifest."""
    import json as _json
    import os

    import pytest
    from pyspark.sql import Row

    from telemetry_streaming_spark.cli import main

    src = tmp_path / "in"
    spark.createDataFrame(
        [Row(event_type="click", value=1.0, user="u1")]
    ).write.mode("overwrite").parquet(str(src / "20240101"))
    out = str(tmp_path / "roll")
    base = ["rollup", "--input-path", str(src), "--output-path", out,
            "--group-by", "event_type", "--sum-col", "value"]
    main(base, spark=spark)
    capsys.readouterr()

    # rewind the manifest to the legacy (pre-'columns') format
    mp = os.path.join(out, "_manifest.json")
    m = _json.loads(open(mp).read())
    del m["columns"]
    open(mp, "w").write(_json.dumps(m))

    # flag change on a legacy rollup: must refuse
    with pytest.raises(SystemExit, match="schema mismatch"):
        main(base + ["--distinct-col", "user"], spark=spark)

    # same flags on a legacy rollup: proceeds (no-op) and re-commits
    # nothing — the guard passes on the inferred schema
    spark.createDataFrame(
        [Row(event_type="view", value=2.0, user="u2")]
    ).write.mode("overwrite").parquet(str(src / "20240102"))
    main(base, spark=spark)
    o = capsys.readouterr().out
    assert "rollup_dates_processed: 1" in o
    assert _json.loads(open(mp).read())["columns"] == [
        "event_type", "n_rows", "sum_value_cents",
    ]


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_cli_clusters_incremental_with_kill_at_every_boundary(
    spark, tmp_path, capsys, monkeypatch
):
    """r8 (r7 verdict item 3): the nightly cluster-maintenance flow —
    `cli.py clusters` persists the (id, component) labeling and folds
    new pair batches in via incremental_components with the maintain
    swap discipline.  A kill at EVERY boundary (before the swap,
    between the two swap renames, after the renames before cleanup)
    followed by a plain rerun must yield a labeling set-identical to
    connected_components over ALL pairs seen so far."""
    import json as _json
    import os
    import shutil

    from pyspark.sql import Row

    from telemetry_streaming_spark.cli import main
    from telemetry_streaming_spark.operators.components import (
        connected_components,
    )

    pairs_dir = tmp_path / "pairs"
    labels = str(tmp_path / "labels")
    all_pairs: list[tuple[int, int]] = []

    def drop_batch(name, pairs):
        all_pairs.extend(pairs)
        spark.createDataFrame(
            [Row(id1=a, id2=b) for a, b in pairs]
        ).write.mode("overwrite").parquet(str(pairs_dir / name))

    def labeling(path):
        return {
            (r["id"], r["component"])
            for r in spark.read.parquet(path).collect()
        }

    def expected():
        df = spark.createDataFrame(
            [Row(id1=a, id2=b) for a, b in all_pairs]
        )
        return {
            (r["id"], r["component"])
            for r in connected_components(df).collect()
        }

    args = ["clusters", "--pairs-input", str(pairs_dir), "--labels-path", labels]

    # night 1: two disjoint clusters
    drop_batch("b1", [(1, 2), (2, 3), (10, 11)])
    main(args, spark=spark)
    o = capsys.readouterr().out
    assert "clusters_batches_processed: 1" in o
    assert labeling(labels) == expected()

    # night 2, kill BEFORE the swap (first os.rename raises): live and
    # manifest must be untouched, rerun converges
    drop_batch("b2", [(3, 4), (20, 21)])
    before = labeling(labels)
    real_rename = os.rename

    def die_on_rename(*a, **k):
        raise RuntimeError("killed before swap")

    monkeypatch.setattr("telemetry_streaming_spark.cli.os.rename", die_on_rename)
    try:
        main(args, spark=spark)
        raise AssertionError("expected the induced kill")
    except RuntimeError:
        pass
    monkeypatch.setattr("telemetry_streaming_spark.cli.os.rename", real_rename)
    capsys.readouterr()
    assert labeling(labels) == before, "live labeling mutated by a killed run"
    main(args, spark=spark)
    o = capsys.readouterr().out
    assert "clusters_batches_processed: 1" in o
    assert labeling(labels) == expected()

    # night 3, kill BETWEEN the two swap renames (second rename raises):
    # recovery must promote the verified staging, and the rerun is a
    # clean no-op (manifest traveled inside staging)
    drop_batch("b3", [(11, 20)])  # bridges two existing clusters
    calls = {"n": 0}

    def die_on_second(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("killed mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr("telemetry_streaming_spark.cli.os.rename", die_on_second)
    try:
        main(args, spark=spark)
        raise AssertionError("expected the induced kill")
    except RuntimeError:
        pass
    monkeypatch.setattr("telemetry_streaming_spark.cli.os.rename", real_rename)
    capsys.readouterr()
    assert not os.path.isdir(labels), "mid-swap state: live renamed away"
    main(args, spark=spark)
    o = capsys.readouterr().out
    assert "clusters_batches_processed: 0" in o, o
    assert labeling(labels) == expected()

    # night 4, kill AFTER the renames but before .old cleanup: rerun
    # removes the stale .old and processes nothing twice
    drop_batch("b4", [(4, 5)])
    real_rmtree = shutil.rmtree

    def die_on_rmtree(path, *a, **k):
        if path.endswith(".old"):
            raise RuntimeError("killed before cleanup")
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", die_on_rmtree)
    try:
        main(args, spark=spark)
        raise AssertionError("expected the induced kill")
    except RuntimeError:
        pass
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    capsys.readouterr()
    assert os.path.isdir(labels + ".old")
    main(args, spark=spark)
    o = capsys.readouterr().out
    assert "clusters_batches_processed: 0" in o, o
    assert not os.path.isdir(labels + ".old")
    assert labeling(labels) == expected()

    # first-run crash before swap (unverified staging, no live): the
    # recovery DISCARDS it instead of promoting
    labels2 = str(tmp_path / "labels2")
    monkeypatch.setattr("telemetry_streaming_spark.cli.os.rename", die_on_rename)
    try:
        main(["clusters", "--pairs-input", str(pairs_dir),
              "--labels-path", labels2], spark=spark)
        raise AssertionError("expected the induced kill")
    except RuntimeError:
        pass
    monkeypatch.setattr("telemetry_streaming_spark.cli.os.rename", real_rename)
    capsys.readouterr()
    assert os.path.isdir(labels2 + ".staging") and not os.path.isdir(labels2)
    main(["clusters", "--pairs-input", str(pairs_dir),
          "--labels-path", labels2], spark=spark)
    capsys.readouterr()
    assert labeling(labels2) == expected()


def test_cli_rollup_kll_merge_within_rank_error_bound(spark, tmp_path, capsys):
    """r8 (r7 verdict item 6): the KLL tier's e2e test covered
    mechanics; this pins the NUMBERS.  Over data large and skewed
    enough that the sketch is genuinely approximate (30k values,
    quadratic spacing, split across 3 dates), every merged-sketch
    percentile must land within the KLL normalized rank-error bound of
    the exact quantile: for the reported value v at target rank p,
    |exact_rank(v) - p| <= eps, with eps = 2% covering the documented
    ~1.65% single-sided bound of the default k=200 doubles sketch —
    the approx_*-family convention of sketch-verified tiers
    (operators/frequency.py).  Merging per-date sketches preserves the
    bound; that is exactly what this asserts end-to-end."""
    import re

    from pyspark.sql import Row

    from telemetry_streaming_spark.cli import main

    n = 30_000
    values = [float(i * i % 999_983) for i in range(n)]  # deterministic, skewed
    src = tmp_path / "in"
    per_date = n // 3
    for d in range(3):
        chunk = values[d * per_date:(d + 1) * per_date]
        spark.createDataFrame(
            [Row(event_type="click", value=v) for v in chunk]
        ).write.mode("overwrite").parquet(str(src / f"2024010{d + 1}"))

    out = str(tmp_path / "roll")
    main(["rollup", "--input-path", str(src), "--output-path", out,
          "--group-by", "event_type", "--quantile-col", "value"],
         spark=spark)
    txt = capsys.readouterr().out
    m = re.search(
        r"rollup_quantiles\[click\]: p50=([\d.eE+-]+) p95=([\d.eE+-]+) "
        r"p99=([\d.eE+-]+)", txt)
    assert m, txt

    ordered = sorted(values)
    eps = 0.02
    value_set = set(values)
    import bisect

    for p, reported in zip((0.5, 0.95, 0.99), (float(x) for x in m.groups())):
        # KLL answers with a RETAINED input item, never an interpolation
        assert reported in value_set, (p, reported)
        exact_rank = bisect.bisect_right(ordered, reported) / n
        assert abs(exact_rank - p) <= eps, (
            f"p{int(p * 100)}: reported {reported} has exact rank "
            f"{exact_rank:.4f}, off by {abs(exact_rank - p):.4f} > {eps}"
        )


def test_cli_urlcap_end_to_end(spark, tmp_path, capsys):
    """urlcap writes capped survivors + the per-domain profile: the
    canonical dup collapses to its MIN id, the hot domain is capped,
    and the profile's raw count covers every input row."""
    inp = str(tmp_path / "crawl")
    rows = [(i, f"https://hot.com/p/{i % 7}/?utm_source=x") for i in range(20)]
    rows += [(100, "https://www.cold.com/a"), (101, "http://cold.com/a/")]
    spark.createDataFrame(rows, ["doc_id", "url"]).write.parquet(inp)

    from telemetry_streaming_spark.cli import main

    out = str(tmp_path / "survivors")
    prof = str(tmp_path / "profile")
    main([
        "urlcap", "--input-path", inp, "--output-path", out,
        "--cap", "5", "--profile-path", prof,
    ], spark=spark)
    sv = spark.read.parquet(out)
    by_dom = {r["domain"]: r["n"] for r in sv.groupBy("domain").count()
              .withColumnRenamed("count", "n").collect()}
    # hot.com has 7 canonical pages -> capped to 5; cold.com's two
    # spellings collapse to ONE canonical page
    assert by_dom == {"hot.com": 5, "cold.com": 1}
    cold = sv.where(sv.domain == "cold.com").collect()[0]
    assert cold["doc_id"] == 100 and cold["n_dups"] == 2
    pr = {r["domain"]: r for r in spark.read.parquet(prof).collect()}
    assert pr["hot.com"]["n_raw"] == 20 and pr["hot.com"]["n_canon"] == 7
    assert pr["cold.com"]["n_raw"] == 2 and pr["cold.com"]["n_canon"] == 1
    captured = capsys.readouterr().out
    assert "urlcap_survivors: 6" in captured


@pytest.mark.full  # r11: >=5s; fast-tier siblings cover this surface
def test_cli_urlcap_streaming_frontier_admission(spark, tmp_path, capsys):
    """urlcap --stream-input: checkpointed availableNow frontier
    admission — night 2's re-crawled URLs anti-join away, its new
    pages admit only up to the remaining per-domain budget, and
    re-invoking with the same checkpoint processes nothing new."""
    import pyspark.sql.functions as F

    from telemetry_streaming_spark.cli import main

    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    # night 1: 4 distinct pages on hot.com (one a www/utm variant of
    # another), 1 on cold.com
    n1 = [
        (1, "https://hot.com/a"),
        (2, "https://WWW.hot.com/a/?utm_source=x"),  # variant of /a
        (3, "https://hot.com/b"),
        (4, "https://hot.com/c"),
        (5, "https://hot.com/d"),
        (6, "https://cold.com/x"),
    ]
    spark.createDataFrame(n1, ["doc_id", "url"]).coalesce(1).write.parquet(
        str(drop_dir / "night1")
    )
    argv = [
        "urlcap", "--stream-input", str(drop_dir), "--output-path", store,
        "--checkpoint-path", ckpt, "--cap", "5",
    ]
    main(argv, spark=spark)
    st = spark.read.parquet(store)
    assert st.select("canon_url").distinct().count() == 5  # 4 hot + 1 cold
    # the variant collapsed to MIN id
    assert st.where("canon_url = 'hot.com/a'").collect()[0]["doc_id"] == 1

    # night 2: a re-crawl of hot.com/a (rejected), two genuinely new
    # hot pages (only ONE fits under cap=5), one new cold page
    n2 = [
        (10, "https://hot.com/a/"),
        (11, "https://hot.com/e"),
        (12, "https://hot.com/f"),
        (13, "https://cold.com/y"),
    ]
    spark.createDataFrame(n2, ["doc_id", "url"]).coalesce(1).write.parquet(
        str(drop_dir / "night2")
    )
    main(argv, spark=spark)
    st = spark.read.parquet(store).select("domain", "canon_url", "doc_id").distinct()
    hot = {r["canon_url"] for r in st.where("domain = 'hot.com'").collect()}
    assert len(hot) == 5  # capped: 4 from night 1 + exactly 1 new
    assert {"hot.com/a", "hot.com/b", "hot.com/c", "hot.com/d"} <= hot
    assert len(hot & {"hot.com/e", "hot.com/f"}) == 1
    assert st.where("domain = 'cold.com'").count() == 2
    # the re-crawled page kept night 1's survivor id
    assert st.where("canon_url = 'hot.com/a'").collect()[0]["doc_id"] == 1

    # re-invoking with nothing new is a checkpointed no-op
    before = st.count()
    main(argv, spark=spark)
    after = spark.read.parquet(store).select(
        "domain", "canon_url", "doc_id"
    ).distinct().count()
    assert after == before
