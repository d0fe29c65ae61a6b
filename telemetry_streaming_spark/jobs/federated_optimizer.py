"""FederatedLearningSearchOptimizer — stateful streaming ML loop.

Re-expresses the reference job Spark-first:

* P27 filter (FederatedLearningSearchOptimizer.scala:62-93) as column
  predicates — docType, study_variation prefix/exclusion, suggestion
  count guard — with the **processing-time clock injectable** so tests
  are deterministic (the reference stamps rows from a Clock at :77).
* A3-A5 aggregate (:94-105): 30-minute tumbling window with a phase
  offset, ``avg(loss)``, ``count(*)``, the element-wise array mean as
  ``array(avg(update[0]), ..., avg(update[21]))`` (A4 — a plain
  hash-aggregate over 22 columns, no UDAF), and
  ``approx_count_distinct(client_id, rsd=0.02)`` (A5, HLL++).
* A7 RProp on the driver (FederatedLearningRPropOptimizer.scala:6-63)
  in NumPy — 22 floats is not a distributed op.
* K8 sink (FederatedLearningSearchOptimizerS3Sink.scala:37-145) via
  ``foreachBatch`` (PySpark has no StreamSinkProvider): collect the
  tiny aggregate, pick the min eligible modelVersion, fit, write
  ``latest.json`` / ``{iteration}.json`` and a ``STATE-{n}`` file; on
  construction restore from bootstrap file or latest STATE file.
  Filesystem targets are plain paths (local or any fsspec-style mount
  of an object store); the reference's S3 client is an environment
  detail, not an operator.

Scale: the aggregate output is ~(windows x model versions) rows —
tiny by construction; the single shuffle is the windowed groupBy with
map-side partial aggregation, so 100 TB of input reduces executor-side
before the exchange.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from telemetry_streaming_spark.functions.pings import parse_pings

# Starting model: firefox.js frecency prefs
# (FederatedLearningSearchOptimizerS3Sink.scala:23-28)
STARTING_WEIGHTS = [
    4, 14, 31, 90, 100, 70, 50, 30, 10, 0, 0, 100, 2000, 75, 0, 0, 0, 25, 0, 140, 200, 0,
]
NUM_FEATURES = len(STARTING_WEIGHTS)  # 22
STARTING_LEARNING_RATE = 2.0

# RProp constants (FederatedLearningRPropOptimizer.scala:8-11)
ALPHA = 2.0
BETA = 0.6
MIN_LEARNING_RATE = 1.0
MAX_LEARNING_RATE = 3.0


def rprop_fit(
    weights: np.ndarray,
    gradient: np.ndarray,
    previous_gradient: np.ndarray | None,
    learning_rates: np.ndarray,
    align_time_buckets: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Sign-based resilient propagation step
    (FederatedLearningRPropOptimizer.scala:15-63).

    lr *= ALPHA (capped MAX) where grad agrees with the previous
    gradient, lr *= BETA (floored MIN) where it flipped; update =
    lr * sign(g); weights shifted non-negative; optional time-bucket
    monotonicity w[1..3] >= prev + 1.
    """
    weights = np.asarray(weights, dtype=float)
    gradient = np.asarray(gradient, dtype=float)
    lr = np.asarray(learning_rates, dtype=float).copy()
    if previous_gradient is not None:
        prod = gradient * np.asarray(previous_gradient, dtype=float)
        lr = np.where(prod > 0, np.minimum(lr * ALPHA, MAX_LEARNING_RATE), lr)
        lr = np.where(prod < 0, np.maximum(lr * BETA, MIN_LEARNING_RATE), lr)
    new_weights = weights + lr * np.sign(gradient)
    w_min = new_weights.min()
    if w_min < 0:
        new_weights = new_weights - w_min
    if align_time_buckets:
        for i in (1, 2, 3):
            new_weights[i] = max(new_weights[i], new_weights[i - 1] + 1)
    return new_weights, lr


# --- P27 + A3-A5 ---------------------------------------------------------


def frecency_updates(
    raw: DataFrame,
    model_branch: str,
    clock: Column | None = None,
) -> DataFrame:
    """P27: filter frecency-update pings and stamp rows with the
    processing-time clock (FederatedLearningSearchOptimizer.scala:62-93).

    ``clock`` defaults to ``current_timestamp()``; inject a literal
    timestamp column for deterministic tests (the reference's
    ManualClock)."""
    ping = F.col("ping")
    payload = ping["payload"]
    df = parse_pings(raw)
    keep = (
        (ping["meta"]["docType"] == "frecency-update")
        & payload["study_variation"].startswith(model_branch)
        & ~F.coalesce(payload["study_variation"].contains("not-submitting"), F.lit(False))
        & (payload["bookmark_and_history_num_suggestions_displayed"] > -1)
    )
    ts = clock if clock is not None else F.current_timestamp()
    return df.filter(keep).select(
        ts.alias("ts"),
        payload["model_version"].alias("modelVersion"),
        payload["loss"].alias("loss"),
        payload["update"].alias("updates"),
        ping["meta"]["clientId"].alias("client_id"),
    )


def aggregate_updates(updates: DataFrame, window_offset_min: int = 28) -> DataFrame:
    """A3-A5 (FederatedLearningSearchOptimizer.scala:94-105); streaming
    input adds the 0-minute watermark (W2)."""
    if updates.isStreaming:
        updates = updates.withWatermark("ts", "0 minutes")
    return (
        updates.groupBy(
            F.window("ts", "30 minutes", "30 minutes", f"{window_offset_min} minutes"),
            "modelVersion",
        ).agg(
            F.avg("loss").alias("avgLoss"),
            F.count("*").alias("count"),
            F.array(
                *[F.avg(F.col("updates")[i]) for i in range(NUM_FEATURES)]
            ).alias("avgUpdates"),
            F.approx_count_distinct("client_id", rsd=0.02).alias("approxClientCount"),
        )
    )


# --- K8: stateful model sink --------------------------------------------


@dataclass
class OptimizerState:
    """OptimisationState (FederatedLearningSearchOptimizerS3Sink.scala:191)."""

    iteration: int
    weights: list[float]
    learning_rates: list[float]
    gradient: list[float] | None = None

    def to_json(self) -> str:
        doc = {
            "iteration": self.iteration,
            "weights": self.weights,
            "learningRates": self.learning_rates,
        }
        if self.gradient is not None:
            doc["gradient"] = self.gradient
        return json.dumps(doc)

    @classmethod
    def from_json(cls, raw: str) -> OptimizerState:
        doc = json.loads(raw)
        return cls(
            iteration=doc["iteration"],
            weights=list(doc["weights"]),
            learning_rates=list(doc["learningRates"]),
            gradient=list(doc["gradient"]) if doc.get("gradient") is not None else None,
        )

    @classmethod
    def initial(cls) -> OptimizerState:
        return cls(
            iteration=0,
            weights=[float(w) for w in STARTING_WEIGHTS],
            learning_rates=[STARTING_LEARNING_RATE] * NUM_FEATURES,
            gradient=None,
        )


def _parse_s3_url(path: str) -> tuple[str, str] | None:
    """``s3://bucket/prefix`` -> (bucket, prefix); None for filesystem
    paths."""
    if not path.startswith("s3://"):
        return None
    bucket, _, key = path[len("s3://"):].partition("/")
    if not bucket:
        raise ValueError(f"S3 URL missing bucket: {path!r}")
    return bucket, key.strip("/")


def _s3_client(endpoint_override: str | None = None):
    """boto3 S3 client with optional endpoint override + path-style
    access (the reference's S3ClientWrapper builder settings).  boto3
    is imported lazily so filesystem-only deployments need no AWS
    SDK."""
    try:
        import boto3
        from botocore.config import Config
    except ImportError as exc:  # pragma: no cover - boto3 present in CI
        raise ImportError(
            "an s3:// model_output_path requires boto3; install it or "
            "use a filesystem path"
        ) from exc
    kwargs: dict = {"config": Config(s3={"addressing_style": "path"})}
    if endpoint_override:
        kwargs["endpoint_url"] = endpoint_override
    return boto3.client("s3", **kwargs)


class FederatedOptimizerSink:
    """Per micro-batch: collect the (tiny) aggregates on the driver,
    pick the earliest eligible model update (A6), RProp-fit, write
    model + state files (FederatedLearningSearchOptimizerS3Sink.scala:
    37-145).  Use with ``foreachBatch`` in streaming or call
    ``add_batch`` directly in batch mode."""

    def __init__(
        self,
        model_output_path: str,
        state_checkpoint_path: str,
        state_bootstrap_file: str | None = None,
        s3_endpoint_override: str | None = None,
    ):
        """``model_output_path`` may be a filesystem directory or an
        ``s3://bucket/prefix`` URL.  The S3 path reproduces the
        reference's object semantics (FederatedLearningSearchOptimizer
        S3Sink.scala:147-167): public-read canned ACL, JSON content
        type, no-cache headers, optional endpoint override (the
        reference's s3EndpointOverride, used against mock S3)."""
        self.model_output_path = model_output_path
        self.state_checkpoint_path = state_checkpoint_path
        self._s3_location = _parse_s3_url(model_output_path)
        self._s3_endpoint_override = s3_endpoint_override
        os.makedirs(state_checkpoint_path, exist_ok=True)
        if self._s3_location is None:
            os.makedirs(model_output_path, exist_ok=True)
        self.state = self._init_state(state_bootstrap_file)

    def _init_state(self, bootstrap: str | None) -> OptimizerState:
        if bootstrap is not None:
            with open(bootstrap) as fh:
                return OptimizerState.from_json(fh.read())
        states = sorted(
            (f for f in os.listdir(self.state_checkpoint_path) if f.startswith("STATE-")),
            reverse=True,  # lexicographic, like the reference's name sort (:122-129)
        )
        if states:
            with open(os.path.join(self.state_checkpoint_path, states[0])) as fh:
                return OptimizerState.from_json(fh.read())
        return OptimizerState.initial()

    def add_batch(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        rows = batch_df.collect()
        eligible = [r for r in rows if r["modelVersion"] >= self.state.iteration]
        if not eligible:
            return
        chosen = min(eligible, key=lambda r: r["modelVersion"])  # A6
        gradient = [float(g) if g is not None else 0.0 for g in chosen["avgUpdates"]]
        new_weights, new_lr = rprop_fit(
            np.array(self.state.weights),
            np.array(gradient),
            np.array(self.state.gradient) if self.state.gradient is not None else None,
            np.array(self.state.learning_rates),
        )
        new_iteration = self.state.iteration + 1
        new_state = OptimizerState(
            iteration=new_iteration,
            weights=[float(w) for w in new_weights],
            learning_rates=[float(r) for r in new_lr],
            gradient=gradient,
        )
        # banker's-free rounding: Scala math.round = floor(x + 0.5)
        rounded = [int(np.floor(w + 0.5)) for w in new_weights]
        self._write_model({"weights": rounded, "iteration": new_iteration})
        self._write_state(new_state)
        self.state = new_state

    def _write_model(self, model: dict) -> None:
        doc = json.dumps(model)
        names = ("latest.json", f"{model['iteration']}.json")
        if self._s3_location is not None:
            bucket, prefix = self._s3_location
            client = _s3_client(self._s3_endpoint_override)
            for name in names:
                key = f"{prefix}/{name}" if prefix else name
                # parity with S3ClientWrapper.putString
                # (FederatedLearningSearchOptimizerS3Sink.scala:157-167)
                client.put_object(
                    Bucket=bucket,
                    Key=key,
                    Body=doc.encode("utf-8"),
                    ACL="public-read",
                    ContentType="application/json",
                    CacheControl="no-cache, no-store, must-revalidate",
                )
            return
        for name in names:
            with open(os.path.join(self.model_output_path, name), "w") as fh:
                fh.write(doc)

    def _write_state(self, state: OptimizerState) -> None:
        path = os.path.join(self.state_checkpoint_path, f"STATE-{state.iteration}")
        with open(path, "w") as fh:
            fh.write(state.to_json())


def write_updates_streaming(
    aggregates: DataFrame,
    sink: FederatedOptimizerSink,
    checkpoint_path: str,
    query_name: str = "main_query",
):
    """W-op wiring: append-mode foreachBatch stream with checkpoint
    (writeUpdates, FederatedLearningSearchOptimizer.scala:108-131)."""
    return (
        aggregates.writeStream.outputMode("append")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(lambda df, bid: sink.add_batch(df, bid))
        .start()
    )
