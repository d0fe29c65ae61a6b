"""SparkSession factory with scale-oriented defaults.

The reference configures its session per job (graceful shutdown,
dynamic partition overwrite — ErrorAggregatorBase.scala:202-208).  We
centralize that and add the settings that matter at 100TB: AQE (runtime
re-planning, skew-join splitting, partition coalescing), UTC session
time zone (the reference pins UTC everywhere —
StreamingJobBase.scala:60), and Arrow for any pandas-UDF stage.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship telemetry_streaming_spark to executor Python workers.

    Column-expression plans never need this (they run JVM-side), but
    foreachPartition sinks and pandas UDFs import the package inside
    executor processes, whose sys.path does not inherit the driver's.
    addPyFile works identically in local and cluster mode."""
    marker = "_tss_pyfile_added"
    sc = spark.sparkContext
    if getattr(sc, marker, False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(), "telemetry_streaming_spark_pkg")
    zip_path = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    sc.addPyFile(zip_path)
    setattr(sc, marker, True)


def get_spark(
    app_name: str = "telemetry_streaming_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from $SPARK_GRAFT_CPUS (default: the
    host's CPU count); N is also the default shuffle partition count.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Constraint propagation off: its quadratic-ish optimizer cost
        # dominates planning latency on multi-join/AQE plans (~-20%
        # measured across the headline queries), and its inferred
        # IsNotNull filters can drag arbitrarily expensive derived
        # expressions into scans (see operators/dedup.py
        # minhash_lsh_pairs).  What it buys — null-key pre-filtering
        # before shuffles, transitive range predicates — is marginal
        # here: join execs already skip null keys, and queries that
        # want a null prefilter or a pushable transitive bound state
        # it explicitly (see ts_bounds in sources/registry.py).
        .config("spark.sql.constraintPropagation.enabled", "false")
        # mirror of the reference's partition-overwrite contract
        # (ErrorAggregatorBase.scala:205) for batch date re-runs
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    effective_master = master
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        effective_master = f"local[{cpus}]"
        builder = builder.master(effective_master)
    else:
        effective_master = os.environ["SPARK_MASTER"]
    if effective_master and effective_master.startswith("local"):
        # Local-mode-only shuffle tuning.  In a single JVM there is no
        # network hop, so compressing shuffle blocks just burns CPU
        # (lz4 on both ends of a memory copy), and locality wait is
        # meaningless (every task is PROCESS_LOCAL).  Spilling shuffle
        # files to tmpfs removes disk I/O from the only data movement
        # local mode has.  A real cluster keeps compression ON (network
        # is the bottleneck there), spills to local disks sized for the
        # job, and tunes locality per topology — so none of this is
        # applied when a cluster master is configured.
        if os.path.isdir("/dev/shm"):
            builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
        builder = (
            builder.config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            .config("spark.locality.wait", "0")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_package_on_executors(spark)
    return spark
