"""The end-to-end streaming application (InvoicePipeline.main twin,
IP:31-154): one normalized line source fanned out to the four reference
outputs, each its own streaming query with its own checkpoint.

Reference topics → rebuild sinks:
  facturas_erroneas        ← invalid lines            (append)
  cancelaciones            ← windowed cancel counts   (append, event-time)
  anomalias_kmeans         ← KMeans anomalies         (update)
  anomalias_bisect_kmeans  ← BisectingKMeans anomalies (update)

Sink modes: "kafka" (production), "parquet" (broker-free golden runs),
"memory" (tests). Models arrive as plain centroid lists + thresholds
(ml.anomaly.load_model → streaming.scoring.centers_of), so scoring is
plan-literal — no model broadcast, no Python in the stream. The
per-invoice feature state is a JVM streaming aggregation either way:
pipeline.invoice_updates by default, pipeline.exact_invoice_state (the
reference's batch-head Time and batch-count Lines) with
``legacy_state``; no query of the app runs a Python worker.

Scale posture: each query checkpoints independently (replayable Kafka
offsets ⇒ at-least-once per sink, no receiver data-loss window like the
reference's WAL-less ZK receiver); state lives in the partitioned state
store (RocksDB via conf for large key spaces). AQE is off in streaming,
so each query starts with its own state-partition count from
streaming.runtime.state_partitions (the topology's cores split across
its concurrent queries, one count for all of them since all their state
is JVM state); the caller's session keeps its own count. A checkpoint
root that Hadoop resolves to the local filesystem also starts every
query with the FileSystem-API checkpoint file manager
(streaming.runtime.local_checkpoints): Spark's default FileContext
manager forks a ``readlink`` per checkpoint rename there without the
native libhadoop, and both managers end in the same check-then-rename
on a local disk. HDFS and object-store roots keep Spark's default, the
manager whose rename is atomic on them.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from bigdata_invoice_stream_analysis_spark.streaming import pipeline as P
from bigdata_invoice_stream_analysis_spark.streaming import runtime, scoring, sinks

TOPIC_INVALID = "facturas_erroneas"  # IP:27
TOPIC_CANCELLATIONS = "cancelaciones"  # IP:28
TOPIC_ANOMALIES_KMEANS = "anomalias_kmeans"  # IP:26
TOPIC_ANOMALIES_BISECT = "anomalias_bisect_kmeans"  # IP:29


def _topic(model_name: str) -> str:
    return {
        "kmeans": TOPIC_ANOMALIES_KMEANS,
        "bisecting": TOPIC_ANOMALIES_BISECT,
    }.get(model_name, f"anomalias_{model_name}")


@dataclass
class ModelSpec:
    """A scoring model: centroids + anomaly threshold (M3/M4)."""

    centers: list[list[float]]
    threshold: float


@dataclass
class PipelineConfig:
    sink_mode: str = "parquet"  # kafka | parquet | memory
    out_dir: str = "./out"  # parquet sink root / checkpoint root
    brokers: str | None = None  # kafka mode
    time_mode: str = "event"  # event | processing (reference-faithful)
    window: str = P.DEFAULT_WINDOW
    slide: str = P.DEFAULT_SLIDE
    watermark: str = P.DEFAULT_WATERMARK
    # True → the reference's exact per-invoice state (W2: batch-head Time,
    # batch-count Lines) as one JVM aggregation, pipeline.exact_invoice_state
    legacy_state: bool = False
    available_now: bool = False  # drain-and-stop (tests/golden runs)
    models: dict[str, ModelSpec] = field(default_factory=dict)
    feature_cols: list[str] | None = None


def _start(
    df: DataFrame, name: str, cfg: PipelineConfig, output_mode: str
) -> StreamingQuery:
    ckpt = f"{cfg.out_dir}/_checkpoints/{name}"
    if cfg.sink_mode == "kafka":
        if not cfg.brokers:
            raise ValueError("kafka sink_mode requires brokers")
        return sinks.kafka_sink(
            df, cfg.brokers, name, ckpt,
            key_col=df.columns[0], output_mode=output_mode,
            trigger_available_now=cfg.available_now,
        )
    if cfg.sink_mode == "parquet":
        # Update-mode branches route through the batch_id-overwrite
        # foreachBatch sink (parquet itself is append-only): a replayed
        # micro-batch after a crash overwrites its own batch_id=N/
        # partition instead of appending duplicate rows, so golden runs
        # are replay-safe.
        if output_mode == "update":
            return sinks.idempotent_parquet_sink(
                df, f"{cfg.out_dir}/{name}", ckpt,
                trigger_available_now=cfg.available_now,
                output_mode="update",
            )
        return sinks.parquet_sink(
            df, f"{cfg.out_dir}/{name}", ckpt,
            trigger_available_now=cfg.available_now,
        )
    if cfg.sink_mode == "memory":
        return sinks.memory_sink(
            df, name.replace("-", "_"), output_mode=output_mode,
            trigger_available_now=cfg.available_now,
        )
    raise ValueError(f"unknown sink_mode {cfg.sink_mode!r}")


def _wire(
    lines: DataFrame, cfg: PipelineConfig, shared_scan: bool
) -> list[StreamingQuery]:
    """The wiring both topologies share: the invalid-line and windowed
    cancellation queries, then the anomaly queries on the per-invoice
    feature stream — one per model, or with ``shared_scan`` one
    foreachBatch router for all of them. Every query starts under the
    JVM state-partition count for a topology of that many concurrent
    queries, and on a local ``out_dir`` under the FileSystem-API
    checkpoint file manager; the caller's conf is restored either way.
    If wiring fails after some queries started (bad checkpoint
    dir, broken sink), the survivors are stopped before the error
    propagates — a partial topology must not leak active streams into
    the session."""
    spark = lines.sparkSession
    model_queries = min(1, len(cfg.models)) if shared_scan else len(cfg.models)
    concurrent = 2 + model_queries
    queries: list[StreamingQuery] = []
    try:
        with runtime.shuffle_partitions(
            spark, runtime.state_partitions(spark, concurrent=concurrent)
        ), runtime.local_checkpoints(spark, cfg.out_dir):
            queries.append(
                _start(P.invalid_lines(lines), TOPIC_INVALID, cfg, "append")
            )
            queries.append(
                _start(
                    P.cancellation_counts(
                        lines, window=cfg.window, slide=cfg.slide,
                        watermark=cfg.watermark, time_mode=cfg.time_mode,
                    ),
                    TOPIC_CANCELLATIONS, cfg, "append",
                )
            )
            if cfg.models:
                purchases = P.good_purchases(lines, time_mode=cfg.time_mode)
                if cfg.legacy_state:
                    updates = P.exact_invoice_state(purchases)
                else:
                    updates = P.invoice_updates(purchases)
                if shared_scan:
                    specs = [(_topic(m), sp) for m, sp in cfg.models.items()]
                    queries.append(_model_router(updates, specs, cfg))
                else:
                    for model_name, spec in cfg.models.items():
                        flagged = scoring.anomalies_with_centroids(
                            updates, spec.centers, spec.threshold,
                            cfg.feature_cols,
                        )
                        queries.append(
                            _start(flagged, _topic(model_name), cfg, "update")
                        )
    except Exception:
        for q in queries:
            try:
                q.stop()
            except Exception:
                pass  # best-effort cleanup; the wiring error propagates
        raise
    return queries


def run_pipeline(lines: DataFrame, cfg: PipelineConfig) -> list[StreamingQuery]:
    """Wire all four branches onto a normalized line stream
    (sources.*_lines_source) and start their queries: one anomaly query
    per model, so 2 + len(cfg.models) queries run concurrently."""
    return _wire(lines, cfg, shared_scan=False)


def _model_router(
    updates: DataFrame, specs: list[tuple[str, ModelSpec]], cfg: PipelineConfig
) -> StreamingQuery:
    """ONE streaming query carrying BOTH anomaly sinks: the stateful
    per-invoice feature aggregation runs once, and a foreachBatch
    router scores each micro-batch against every model and fans out
    transactionally (idempotent batch_id overwrite per sink — a replay
    rewrites every sink's partition, so the multi-sink write is
    all-or-nothing at the batch level). This is the shape a 100 TB
    deployment prefers over per-model queries: one source scan and ONE
    feature-agg state store per micro-batch instead of one per model
    (the run_pipeline topology keeps per-sink offsets instead — the
    trade is isolation vs duplicated scan+state; PERF.md compares)."""
    if cfg.sink_mode not in ("parquet", "kafka"):
        # Validate at WIRING time: raising inside the foreachBatch
        # callback would start all queries successfully and fail
        # asynchronously on batch 0, bypassing _wire's stop-survivors
        # cleanup.
        raise ValueError(
            "the foreachBatch router needs an idempotent batch sink; "
            f"sink_mode {cfg.sink_mode!r} is not"
        )

    def route(bdf: DataFrame, bid: int) -> None:
        bdf.persist()
        try:
            for topic, spec in specs:
                flagged = scoring.anomalies_with_centroids(
                    bdf, spec.centers, spec.threshold, cfg.feature_cols
                )
                if cfg.sink_mode == "parquet":
                    sinks.overwrite_batch(flagged, bid, f"{cfg.out_dir}/{topic}")
                else:  # "kafka" — the only other mode wiring admits
                    (
                        sinks.to_kafka_records(flagged, key_col=flagged.columns[0])
                        .write.format("kafka")
                        .option("kafka.bootstrap.servers", cfg.brokers)
                        .option("topic", topic)
                        .save()
                    )
        finally:
            bdf.unpersist()

    return sinks.foreach_batch_collector(
        updates,
        route,
        output_mode="update",
        checkpoint=f"{cfg.out_dir}/_checkpoints/anomalias_router",
        trigger_available_now=cfg.available_now,
    )


def run_pipeline_router(
    lines: DataFrame, cfg: PipelineConfig
) -> list[StreamingQuery]:
    """run_pipeline's shared-scan twin: the stateless invalid-line sink
    and the windowed cancellation sink keep their own queries (their
    state machines are distinct), but the N anomaly sinks collapse into
    ONE query via the foreachBatch model router — N+2 source scans and
    N feature-agg state stores become 3 scans and 1 store for the
    reference's 4-sink deployment. Output is row-identical to
    run_pipeline (the streaming_full_pipeline_router gate pins both
    against one oracle)."""
    return _wire(lines, cfg, shared_scan=True)
