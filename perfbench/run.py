"""Engine benchmark: ``backfill`` and ``stream``.

Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

One workload prints its named metrics, then as its last line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics (and a
span file under ``.perfbench/``) with ``--trace 1``.  ``--workload
all`` runs every workload untraced and traced, one process each, and
prints every named metric plus the tracing overhead.

Inputs come from ``--seed``; every output is checked after the timed
region, and every failed check counts in ``failed``.  All files go
under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("backfill", "stream")


def metric_units(kind: str) -> dict[str, str]:
    """Each ``end_to_end`` or ``per_layer`` metric and its unit, from
    BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


class Run:
    def __init__(self, args, root: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = root
        self.cores = len(os.sched_getaffinity(0))  # what nproc prints
        self.work = os.path.join(root, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: dict[str, tuple[str, float]] = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.server = None


def prepare_env(run: Run) -> None:
    """Host hygiene, before the engine is imported: size the engine to
    this host and keep every file the run writes inside ``run.work``."""
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher too): no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [run.root, HERE]


def start_spark(run: Run):
    from telemetry_streaming_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={run.work}"
                                         f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
                                         " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if run.trace:
        run.event_log = os.path.join(run.work, "eventlog")
        os.makedirs(run.event_log)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": run.event_log,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    return get_spark(app_name=f"perfbench-{run.workload}", extra_conf=conf)


def stop_spark(run: Run) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for each to end."""
    from pyspark import SparkContext

    from spans import engine_pids

    gateway = SparkContext._gateway
    pids = engine_pids(run.jvm_pid)
    run.spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    for pid in pids[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def run_one(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "telemetry_streaming_spark", "__init__.py")):
        print("perfbench: run from the repository root (telemetry_streaming_spark/ not found)",
              file=sys.stderr)
        return 2
    run = Run(args, root)
    prepare_env(run)
    import spans
    import workloads

    units = metric_units("per_layer" if run.trace else "end_to_end")
    ticks0 = spans.host_cpu_ticks()
    warmup, measure, _ = workloads.WORKLOADS[run.workload]
    run.tracer = spans.Tracer(enabled=False)
    try:
        t = time.perf_counter()
        run.spark = start_spark(run)
        run.spark.sparkContext.setLogLevel("ERROR")
        run.jvm_pid = run.spark.sparkContext._gateway.proc.pid
        run.layers["session.get_spark_s"] = time.perf_counter() - t
        t = time.perf_counter()
        run.spark.sparkContext.setJobGroup("warmup", "warmup")
        run.spark.range(1000).selectExpr("sum(id)").collect()
        run.layers["session.first_job_s"] = time.perf_counter() - t
        t = time.perf_counter()
        warmup(run)
        run.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        run.layers["session.warmup_s"] = time.perf_counter() - t
        run.metrics["setup_s"] = time.perf_counter() - T0

        run.tracer = spans.Tracer(run.spark, enabled=run.trace)
        measure(run)
        run.metrics["peak_rss_mb"] = spans.peak_rss_mb(run.jvm_pid)
    finally:
        if run.server is not None:
            run.server.close()
        if run.spark is not None:
            stop_spark(run)
    if run.trace:
        workloads.events_from_log(run, run.event_log)
        span_file = os.path.join(root, ".perfbench", f"spans-{run.workload}-s{run.seed}.json")
        run.tracer.write(span_file)
    shutil.rmtree(run.work, ignore_errors=True)

    # steal: CPU time the hypervisor gave to other guests while this run
    # wanted it; a high share means the timings are not comparable
    ticks = [b - a for a, b in zip(ticks0, spans.host_cpu_ticks())]
    host = {"nproc": run.cores, "loadavg": os.getloadavg(),
            "steal_share": ticks[7] / max(sum(ticks), 1),
            "python": platform.python_version(), "spark": __import__("pyspark").__version__}
    for name, (unit, value) in run.report.items():
        print(f"{run.workload}: {name} = {value:.6g} {unit}")
    print("REPORT " + json.dumps({"workload": run.workload, "host": host,
                                  "named": run.report, "expected": getattr(run, "expected", None)}))
    if run.trace:  # a layer the workload does not touch reads 0
        values = {k: run.layers.get(k, 0.0) for k in units}
    else:
        values = run.metrics
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload untraced then traced; print the named metrics,
    failed ratios and the tracing overhead."""
    ok = True
    for workload in WORKLOADS:
        out = {}
        for trace in (0, 1):
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", workload,
                 "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True, timeout=900)
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or not lines:
                print(f"{workload} (trace {trace}): exit {res.returncode}")
                ok = False
                break
            report = next(json.loads(ln[7:]) for ln in lines if ln.startswith("REPORT "))
            out[trace] = (json.loads(lines[-1]), report)
        if len(out) < 2:
            continue
        (plain, report), (traced, _) = out[0], out[1]
        ok = ok and plain["correct"] and traced["correct"]
        print(f"== {workload}  host={report['host']}")
        for name, (unit, value) in report["named"].items():
            print(f"  {name} = {value:.6g} {unit}")
        for name, m in plain["metrics"].items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
        print(f"  failed_ratio = {plain['failed'] / plain['attempted']:.6g} "
              f"({plain['failed']}/{plain['attempted']})")
        untraced = plain["metrics"]["cpu_s_per_pass"]["value"]
        with_trace = traced["metrics"]["trace.cpu_s_per_pass"]["value"]
        print(f"  tracing_overhead = {with_trace / untraced - 1:+.3%} "
              f"(cpu_s_per_pass {untraced:.4g} s untraced, {with_trace:.4g} s traced)")
        for name, m in traced["metrics"].items():
            if m["value"]:
                print(f"  {name} = {m['value']:.6g} {m['unit']}")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
