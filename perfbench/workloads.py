"""The two workloads.  Each has a ``warmup(run)`` (counted in
set-up time) and a ``measure(run)`` that runs for ``run.seconds``,
checks every output outside the timed region, and fills
``run.metrics`` (end-to-end), ``run.layers`` (per-layer, traced run)
and ``run.report`` (the workload's named metrics).
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pings as gen
from spans import cpu_seconds, jit_seconds, task_metrics_by_group

HERE = os.path.dirname(os.path.abspath(__file__))

# backfill: one synthetic day of heka files, one file per core, then
# the analytics mix: one registry query per operator family over
# seeded tables, in a seed-shuffled order per pass
BACKFILL_PINGS = 6000
# the jobs run twice on a full-size day before the clock starts: after
# one 400-ping warm-up day the JIT still spent ~18 CPU-seconds compiling
# during the measured pass, ~12 after this warm-up
WARMUP_PINGS = 6000
WARMUP_ROUNDS = 2
ANALYTICS_MIX = (
    "pricing_summary", "json_extract_agg", "shipping_priority", "sessionize",
    "dedup_minhash_bands", "similarity_topk", "text_quality", "part_triangles",
)
ANALYTICS_LINEITEM_ROWS = 60000

# stream: open-loop ladder, one file per tick; the first rung is the
# reference rate, the last is above capacity on a 4-core host
TICK_S = 0.25
REF_RATE = 2000
LADDER = (2000, 8000, 32000)
LADDER_SHARES = (0.55, 0.15, 0.3)  # of --seconds
LAG_LIMIT_S = 5.0
STREAM_WARMUP_PINGS = 8000


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return float(v[0])
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values))


def noop(df) -> None:
    """Execute every column of ``df`` without materializing it."""
    df.write.format("noop").mode("overwrite").save()


# --- local HTTP sink target -------------------------------------------------


class SinkServer(ThreadingHTTPServer):
    """Records every POST body; counts TCP accepts and handler time."""

    daemon_threads = True

    def __init__(self):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.bodies: list[bytes] = []
        self.accepts = 0
        self.busy_s = 0.0
        self.lock = threading.Lock()
        self.thread = threading.Thread(target=self.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}/batch"

    def get_request(self):
        req = super().get_request()
        with self.lock:
            self.accepts += 1
        return req

    def snapshot(self) -> dict:
        with self.lock:
            return {"requests": len(self.bodies), "accepts": self.accepts, "busy_s": self.busy_s,
                    "bytes": sum(len(b) for b in self.bodies)}

    def start(self) -> "SinkServer":
        self.thread.start()
        return self

    def close(self) -> None:
        self.shutdown()
        self.server_close()
        self.thread.join(10)


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def do_POST(self):
        t = time.perf_counter()
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()
        srv = self.server
        with srv.lock:
            srv.bodies.append(body)
            srv.busy_s += time.perf_counter() - t

    def log_message(self, *args):
        pass


def count_events(bodies: list[bytes]) -> tuple[int, int]:
    """(events, bodies that do not parse as an Amplitude batch)."""
    events = bad = 0
    for b in bodies:
        try:
            events += len(json.loads(b)["events"])
        except (ValueError, KeyError, TypeError):
            bad += 1
    return events, bad


# --- backfill -----------------------------------------------------------------


def _cli_jobs(run, heka_dir: str, out_dir: str, url: str) -> tuple[float, float]:
    """The ErrorAggregator then the EventsToAmplitude CLI job over one
    day of heka files; returns each job's wall time."""
    from telemetry_streaming_spark import cli

    t0 = time.perf_counter()
    with run.tracer.span("error_agg.job"):
        cli.main(["error_aggregator", "--input-path", heka_dir, "--format", "heka",
                  "--output-path", out_dir, "--num-parquet-files", str(run.cores)],
                 spark=run.spark)
    t1 = time.perf_counter()
    with run.tracer.span("amplitude.job"):
        cli.main(["events_to_amplitude", "--input-path", heka_dir, "--format", "heka",
                  "--config", run.amplitude_config, "--url", url], spark=run.spark)
    return t1 - t0, time.perf_counter() - t1


def error_totals(spark, path: str) -> dict:
    import pyspark.sql.functions as F

    if not any(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs):
        return {"count": 0, "main_crashes": 0, "usage_hours": 0.0}  # no rows written
    row = spark.read.parquet(path).agg(
        F.sum("count").alias("count"), F.sum("main_crashes").alias("main_crashes"),
        F.sum("usage_hours").alias("usage_hours")).first()
    return {k: row[k] or 0 for k in ("count", "main_crashes", "usage_hours")}


def check_error_totals(got: dict, exp: gen.Expected) -> int:
    """Pings missing or miscounted in the ErrorAggregator output."""
    if got["count"] == exp.count and got["main_crashes"] == exp.main_crashes and \
            abs(got["usage_hours"] - exp.usage_hours) <= 1e-6 * max(1.0, exp.usage_hours):
        return 0
    return max(1, abs(exp.count - int(got["count"])))


def _analytics_pass(run, order: list[str]) -> dict:
    """Run and collect each query; name -> (seconds, pandas result or
    None when the query raised)."""
    from telemetry_streaming_spark.plans.queries import QUERIES

    out = {}
    for name in order:
        t = time.perf_counter()
        with run.tracer.span(f"analytics.{name}"):
            try:
                df = QUERIES[name].fn(run.spark, run.tables_dir).toPandas()
            except Exception as e:  # a failed query is counted, not fatal
                print(f"analytics: {name} failed: {e!r}", file=sys.stderr)
                df = None
        out[name] = (time.perf_counter() - t, df)
    return out


def backfill_warmup(run) -> None:
    from tables import write_tables

    run.amplitude_config = os.path.join(run.work, "amplitude.json")
    with open(run.amplitude_config, "w") as fh:
        json.dump(gen.AMPLITUDE_CONFIG, fh)
    warm = os.path.join(run.work, "heka_warm")
    gen.write_heka_day(warm, run.seed + 1, WARMUP_PINGS, run.cores)
    run.server = SinkServer().start()
    for i in range(WARMUP_ROUNDS):
        _cli_jobs(run, warm, os.path.join(run.work, f"errors_warm{i}"), run.server.url)
    run.tables_dir = os.path.join(run.work, "tables")
    run.table_rows = write_tables(run.tables_dir, run.seed, ANALYTICS_LINEITEM_ROWS)
    _analytics_pass(run, list(ANALYTICS_MIX))


def backfill_measure(run) -> None:
    """Closed loop, one pass after another until ``run.seconds``: the
    day through both CLI jobs, then the analytics mix."""
    from oracle import duck_connection, mismatch, normalize
    from telemetry_streaming_spark.plans.queries import QUERIES

    heka_dir = os.path.join(run.work, "heka")
    expected = gen.write_heka_day(heka_dir, run.seed, BACKFILL_PINGS, run.cores)
    server = run.server
    rng = random.Random(run.seed)
    iters = []
    cpu0, jit0, t_start = cpu_seconds(run.jvm_pid), jit_seconds(run.jvm_pid), time.perf_counter()
    while not iters or time.perf_counter() - t_start < run.seconds:
        out_dir = os.path.join(run.work, f"errors_{len(iters)}")
        before = server.snapshot()["requests"]
        order = list(ANALYTICS_MIX)
        rng.shuffle(order)
        c = cpu_seconds(run.jvm_pid)
        with run.tracer.span("backfill.pass", trace_id=str(len(iters))):
            ea_s, amp_s = _cli_jobs(run, heka_dir, out_dir, server.url)
            t = time.perf_counter()
            queries = _analytics_pass(run, order)
        iters.append({"ea_s": ea_s, "amp_s": amp_s, "an_s": time.perf_counter() - t,
                      "queries": queries, "out": out_dir, "cpu_s": cpu_seconds(run.jvm_pid) - c,
                      "bodies": (before, server.snapshot()["requests"])})
    wall = time.perf_counter() - t_start
    cpu = cpu_seconds(run.jvm_pid) - cpu0
    run.layers["workload.jit_cpu_s"] = jit_seconds(run.jvm_pid) - jit0

    # correctness, outside the timed region
    con = duck_connection(run.tables_dir, run.table_rows)
    want = {q: normalize(con.execute(QUERIES[q].oracle).df()) for q in ANALYTICS_MIX}
    con.close()
    for it in iters:
        run.attempted += expected.pings + expected.amplitude_events + len(ANALYTICS_MIX)
        run.failed += check_error_totals(error_totals(run.spark, it["out"]), expected)
        lo, hi = it["bodies"]
        events, bad = count_events(server.bodies[lo:hi])
        it["events"] = events
        run.failed += abs(expected.amplitude_events - events) + bad
        for q, (_, df) in it["queries"].items():
            why = "error" if df is None else mismatch(normalize(df), want[q])
            if why:
                print(f"analytics: {q} mismatches the oracle: {why}", file=sys.stderr)
                run.failed += 1
    run.expected = expected.as_dict()

    pass_s = [it["ea_s"] + it["amp_s"] + it["an_s"] for it in iters]
    run.metrics["cpu_s_per_pass"] = median([it["cpu_s"] for it in iters])
    run.report.update({
        "backfill_pass_s": ("s", median(pass_s)),
        "backfill_errors_pings_per_s": (
            "1/s", median([BACKFILL_PINGS / it["ea_s"] for it in iters])),
        "backfill_amplitude_events_per_s": (
            "1/s", median([it["events"] / it["amp_s"] for it in iters])),
        "analytics_pass_s": ("s", median([it["an_s"] for it in iters])),
        "backfill_passes": ("count", len(iters)),
    })
    for q in ANALYTICS_MIX:
        run.layers[f"analytics.{q}_s"] = median([it["queries"][q][0] for it in iters])
    run.layers["workload.cpu_util"] = cpu / (wall * run.cores)
    if run.trace:
        run.layers["trace.cpu_s_per_pass"] = run.metrics["cpu_s_per_pass"]
        backfill_layers(run, heka_dir)
        # the layer counts must agree with the generator too
        L = run.layers
        for got, exp in ((L["heka.messages"], expected.pings),
                         (L["pings.parse_failures"], expected.rejects),
                         (round(L["pings.accept_ratio"] * expected.pings), expected.accepted),
                         (L["amplitude.events_out"], expected.amplitude_events),
                         (L["http.dropped"], 0)):
            run.attempted += 1
            run.failed += int(got != exp)


def backfill_layers(run, heka_dir: str) -> None:
    """Each layer fed the previous layer's materialized output and
    forced through a noop write, under its own span."""
    import pyspark.sql.functions as F

    from telemetry_streaming_spark.functions.pings import parse_pings, parsed_pings_raw
    from telemetry_streaming_spark.jobs import error_aggregator as ea
    from telemetry_streaming_spark.jobs import events_to_amplitude as amp
    from telemetry_streaming_spark.observability import SinkMetrics
    from telemetry_streaming_spark.sinks.http import AmplitudeHttpSink
    from telemetry_streaming_spark.sources.heka import read_heka

    spark, tr, L = run.spark, run.tracer, run.layers
    m = lambda name: os.path.join(run.work, "m_" + name)  # noqa: E731

    def timed(name, fn):
        with tr.span(name):
            fn()
        return tr.durations(name)[-1]

    cpu0 = cpu_seconds(run.jvm_pid)
    L["heka.decode_s"] = timed("heka.decode", lambda: noop(read_heka(spark, heka_dir)))
    L["heka.task_cpu_s"] = cpu_seconds(run.jvm_pid) - cpu0
    L["heka.input_mb"] = sum(os.path.getsize(os.path.join(heka_dir, f))
                             for f in os.listdir(heka_dir)) / 2**20
    with tr.span("materialize"):
        read_heka(spark, heka_dir).write.parquet(m("raw"))
    raw = spark.read.parquet(m("raw"))
    L["heka.messages"] = raw.count()

    L["pings.parse_s"] = timed("pings.parse", lambda: noop(parse_pings(raw)))
    with tr.span("materialize"):
        parse_pings(raw).write.parquet(m("parsed"))
        allowed, rejected = ea.validity_flags()
        row = parsed_pings_raw(raw).agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.sum((F.coalesce(allowed & ~rejected, F.lit(False))).cast("long")).alias("ok"),
            F.sum(ea.parse_failure().cast("long")).alias("failures")).first()
    L["pings.rows_in"] = row["rows_in"]
    L["pings.accept_ratio"] = (row["ok"] or 0) / max(row["rows_in"], 1)
    L["pings.parse_failures"] = row["failures"] or 0
    parsed = spark.read.parquet(m("parsed"))

    agg = lambda: ea._window_aggregate(ea.prepare(parsed), False, None, None)  # noqa: E731
    L["error_agg.aggregate_s"] = timed("error_agg.aggregate", lambda: noop(agg()))
    with tr.span("materialize"):
        agg().write.parquet(m("agg"))
        L["error_agg.rows_exploded"] = ea.prepare(parsed).count()
    aggregated = spark.read.parquet(m("agg"))
    L["error_agg.groups_out"] = aggregated.count()
    out = m("errors_out")
    L["error_agg.write_s"] = timed("error_agg.write", lambda: aggregated.repartition(run.cores)
                                   .write.mode("overwrite").partitionBy("submission_date_s3")
                                   .parquet(out))
    L["error_agg.files_out"] = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs)

    config = amp.load_config(run.amplitude_config)
    doctype, app_name = amp.dispatch_for_config(config)
    events = lambda: amp.exploded_events(  # noqa: E731
        amp.amplitude_payloads(raw, config, doctype=doctype, app_name=app_name))
    L["amplitude.match_s"] = timed("amplitude.match", lambda: noop(events()))
    with tr.span("materialize"):
        events().write.parquet(m("events"))
        L["amplitude.pings_matched"] = amp.amplitude_payloads(
            raw, config, doctype=doctype, app_name=app_name).count()
    matched = spark.read.parquet(m("events"))
    L["amplitude.events_out"] = matched.count()

    sink_metrics = SinkMetrics(spark)
    url = run.server.url
    before = run.server.snapshot()

    def push():
        matched.select("event_json").foreachPartition(
            lambda rows: AmplitudeHttpSink(url, "", metrics=sink_metrics).send_events(
                [r.event_json for r in rows]))

    L["http.push_s"] = timed("http.push", push)
    after = run.server.snapshot()
    snap = sink_metrics.snapshot()
    L["http.requests"] = after["requests"] - before["requests"]
    pushed, _ = count_events(run.server.bodies[before["requests"]:after["requests"]])
    L["http.events_per_request"] = pushed / max(L["http.requests"], 1)
    L["http.mb_sent"] = (after["bytes"] - before["bytes"]) / 2**20
    L["http.connections"] = after["accepts"] - before["accepts"]
    L["http.retries"] = snap["retry"]
    L["http.dropped"] = snap["dropped"]
    L["http.server_busy_s"] = after["busy_s"] - before["busy_s"]


def backfill_events_from_log(run, groups: dict) -> None:
    L = run.layers
    g = groups.get("heka.decode", {})
    L["heka.tasks"] = g.get("tasks", 0)
    g = groups.get("error_agg.aggregate", {})
    L["error_agg.shuffle_write_mb"] = g.get("shuffle_write_mb", 0.0)
    L["error_agg.spill_mb"] = g.get("spill_mb", 0.0)
    mine = [g for name, g in groups.items() if name.startswith("analytics.")]
    L["analytics.task_cpu_s"] = sum(g["cpu_s"] for g in mine)
    L["analytics.shuffle_write_mb"] = sum(g["shuffle_write_mb"] for g in mine)
    L["analytics.gc_s"] = sum(g["gc_s"] for g in mine)


# --- stream -------------------------------------------------------------------


def stream_warmup(run) -> None:
    """Start the measured query and push one file through it, big
    enough that the per-row code is compiled before the clock starts.
    Its pings are stamped now, so they fill the same windows and state
    keys the measured pings will."""
    from telemetry_streaming_spark.jobs import error_aggregator as ea
    from telemetry_streaming_spark.streaming.core import text_file_source

    base = os.path.join(run.work, "stream")
    src = os.path.join(base, "in")
    os.makedirs(src)
    run.stream_query = ea.write_streaming(
        text_file_source(run.spark, src), os.path.join(base, "out"), os.path.join(base, "ckpt"))
    pings, _ = gen.make_pings(run.seed + 1, STREAM_WARMUP_PINGS,
                              start_ns=int(time.time() * 1e9), span_s=1.0)
    tmp = os.path.join(src, ".warmup.json")  # hidden until complete, as in stream_gen.py
    with open(tmp, "w") as fh:
        fh.write("\n".join(json.dumps(p) for p in pings) + "\n")
    os.rename(tmp, os.path.join(src, "warmup.json"))
    q = run.stream_query
    q.processAllAvailable()
    # let the watermark's no-data batch finish before the clock starts
    deadline = time.time() + 10
    while time.time() < deadline and (q.status["isTriggerActive"] or not q.recentProgress
                                      or q.lastProgress["numInputRows"] > 0):
        time.sleep(0.05)


def stream_schedule(seconds: float) -> list[tuple[int, float]]:
    return [(rate, max(TICK_S, round(seconds * share / TICK_S) * TICK_S))
            for rate, share in zip(LADDER, LADDER_SHARES)]


def consumed_files(ckpt: str) -> dict[int, list[str]]:
    """batchId -> names of the files that batch read.  The file
    source's log is indexed by its own offset, which no-data batches
    (watermark advances) do not move, so map through the offsets log.
    Every 10th source-log entry is compacted into ``N.compact``, which
    repeats the earlier entries; each line carries its own offset."""
    source_dir = os.path.join(ckpt, "sources", "0")
    by_offset: dict[int, set[str]] = {}
    for name in os.listdir(source_dir) if os.path.isdir(source_dir) else ():
        if name.split(".")[0].isdigit() and not name.endswith(".tmp"):
            with open(os.path.join(source_dir, name)) as fh:
                for ln in fh.read().splitlines()[1:]:
                    entry = json.loads(ln)
                    by_offset.setdefault(entry["batchId"], set()).add(
                        os.path.basename(entry["path"]))
    offsets_dir = os.path.join(ckpt, "offsets")
    ends = {}
    for name in os.listdir(offsets_dir) if os.path.isdir(offsets_dir) else ():
        if name.isdigit():
            with open(os.path.join(offsets_dir, name)) as fh:
                lines = fh.read().splitlines()
            if len(lines) > 2:
                ends[int(name)] = json.loads(lines[2])["logOffset"]
    out, prev = {}, -1
    for batch, end in sorted(ends.items()):
        files = sorted(f for o in range(prev + 1, end + 1) for f in by_offset.get(o, ()))
        if files:
            out[batch] = files
        prev = end
    return out


def stream_measure(run) -> None:
    schedule = stream_schedule(run.seconds)
    q = run.stream_query
    base = os.path.join(run.work, "stream")
    src, ckpt = os.path.join(base, "in"), os.path.join(base, "ckpt")
    warm_batches = set(consumed_files(ckpt))
    log_path = os.path.join(base, "gen.json")
    n_files = sum(round(secs / TICK_S) for _, secs in schedule)
    start = time.time() + 1.0
    cpu0, jit0, t_start = cpu_seconds(run.jvm_pid), jit_seconds(run.jvm_pid), time.perf_counter()
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "stream_gen.py"),
                             "--out", src, "--log", log_path, "--seed", str(run.seed),
                             "--start", repr(start), "--tick", str(TICK_S),
                             "--schedule", ",".join(f"{r}:{s}" for r, s in schedule)])
    try:
        proc.wait(timeout=run.seconds + 60)
        deadline = time.time() + 90
        while time.time() < deadline and q.exception() is None:
            if sum(len(v) for v in consumed_files(ckpt).values()) >= n_files + 1:
                break
            time.sleep(0.1)
        # the last batch's progress event follows its source-log entry
        last = max(consumed_files(ckpt), default=-1)
        while time.time() < deadline and q.exception() is None and \
                not any(p["batchId"] == last for p in q.recentProgress):
            time.sleep(0.05)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        wall = time.perf_counter() - t_start
        cpu = cpu_seconds(run.jvm_pid) - cpu0
        run.layers["workload.jit_cpu_s"] = jit_seconds(run.jvm_pid) - jit0
        progress = [p for p in q.recentProgress if p["batchId"] not in warm_batches]
        failed_query = q.exception() is not None
        q.stop()
    with open(log_path) as fh:
        written = json.load(fh)

    # correctness: every file consumed, every row counted
    batches = consumed_files(ckpt)
    file_batch = {f: b for b, fs in batches.items() for f in fs}
    rows_in = sum(p["numInputRows"] for p in progress)
    run.attempted += len(written)
    missing = [w["name"] for w in written if w["name"] not in file_batch]
    rows_out = sum(w["rows"] for w in written)
    if missing or rows_in != rows_out or failed_query:
        print(f"stream: unconsumed files {missing}, numInputRows {rows_in} of {rows_out}, "
              f"query exception {q.exception()!r}", file=sys.stderr)
    run.failed += len(missing) + int(rows_in != rows_out) + int(failed_query)

    commit_at = {b: os.stat(os.path.join(ckpt, "commits", str(b))).st_mtime
                 for b in batches if os.path.exists(os.path.join(ckpt, "commits", str(b)))}
    lags = {}  # rate -> [lag]
    backlog = {}  # rate -> max files written but not committed at a commit
    for w in written:
        b = file_batch.get(w["name"])
        if b in commit_at:
            lags.setdefault(w["rate"], []).append(commit_at[b] - w["due"])
    for b, t in commit_at.items():
        pending = [w for w in written if w["written"] <= t
                   and not (file_batch.get(w["name"]) is not None and file_batch[w["name"]] <= b)]
        rate = max((w["rate"] for w in written if w["written"] <= t), default=None)
        if rate is not None:
            backlog[rate] = max(backlog.get(rate, 0), len(pending))

    # capacity: rows per second of busy time over the batches that
    # consumed files of the overloaded top rung
    top = LADDER[-1]
    top_batches = {file_batch[w["name"]] for w in written
                   if w["rate"] == top and w["name"] in file_batch}
    busy = [(p["numInputRows"], p["durationMs"].get("triggerExecution", 0) / 1e3)
            for p in progress if p["batchId"] in top_batches]
    capacity = sum(r for r, _ in busy) / max(sum(d for _, d in busy), 1e-9)

    ref = lags.get(REF_RATE, [float("nan")])
    sustained = 0
    for rate in LADDER:
        ls = lags.get(rate, [])
        if ls and quantile(ls, 0.9) <= LAG_LIMIT_S:
            sustained = rate
        else:
            break
    run.metrics["cpu_s_per_pass"] = cpu
    run.report.update({
        "stream_sustained_pings_per_s": ("1/s", sustained),
        "stream_capacity_pings_per_s": ("1/s", capacity),
        "stream_lag_p50_s": ("s", median(ref)),
        "stream_lag_p90_s": ("s", quantile(ref, 0.9)),
        "stream_ref_files": ("count", len(ref)),
    })

    L = run.layers
    data = [p for p in progress if p["numInputRows"] > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) / 1e3 for p in data]  # noqa: E731
    L["stream.batches"] = len(data)
    if data:
        L["stream.batch_p50_s"] = median(dur("triggerExecution"))
        L["stream.batch_p90_s"] = quantile(dur("triggerExecution"), 0.9)
        L["stream.add_batch_p50_s"] = median(dur("addBatch"))
        L["stream.planning_p50_s"] = median(dur("queryPlanning"))
        L["stream.latest_offset_p50_s"] = median(dur("latestOffset"))
        L["stream.wal_commit_p50_s"] = median(dur("walCommit"))
        L["stream.commit_offsets_p50_s"] = median(dur("commitOffsets"))
        L["stream.rows_per_batch_p50"] = median([p["numInputRows"] for p in data])
        state = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
        if state:
            L["stream.state_rows"] = max(s["numRowsTotal"] for s in state)
            L["stream.state_mem_mb"] = max(s["memoryUsedBytes"] for s in state) / 2**20
            L["stream.state_commit_p50_ms"] = median([s["commitTimeMs"] for s in state])
    for rate in LADDER:
        ls = lags.get(rate, [])
        if ls:
            L[f"stream.r{rate}.lag_p50_s"] = median(ls)
            L[f"stream.r{rate}.lag_p90_s"] = quantile(ls, 0.9)
        L[f"stream.r{rate}.backlog_files_max"] = backlog.get(rate, 0)
    late = [w["written"] - w["due"] for w in written]
    L["gen.late_p50_s"] = median(late)
    L["gen.late_max_s"] = max(late)
    L["gen.files"] = len(written)
    L["workload.cpu_util"] = cpu / (wall * run.cores)
    if run.trace:
        L["trace.cpu_s_per_pass"] = run.metrics["cpu_s_per_pass"]


WORKLOADS = {
    "backfill": (backfill_warmup, backfill_measure, backfill_events_from_log),
    "stream": (stream_warmup, stream_measure, None),
}


def events_from_log(run, event_log_dir: str) -> None:
    groups = task_metrics_by_group(event_log_dir)
    run.layers["workload.gc_s"] = sum(
        g["gc_s"] for name, g in groups.items() if name != "warmup")
    hook = WORKLOADS[run.workload][2]
    if hook is not None:
        hook(run, groups)
