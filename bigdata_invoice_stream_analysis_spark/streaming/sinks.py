"""Streaming sinks + the foreachBatch router (S4, W4, W6).

The reference hand-rolls a per-partition KafkaProducer per micro-batch
(InvoicePipeline.scala:156-172 — unpooled, fire-and-forget). The rebuild
uses the built-in Kafka sink (pooled producers, offset-tracked,
checkpointed ⇒ at-least-once with replayable offsets) or, for the
4-topic fan-out, ONE foreachBatch router so the source is read once per
micro-batch instead of once per sink query.

W6 stringification: the reference emits Scala's ``Invoice(...)``
toString as the Kafka value; the rebuild emits JSON (``to_json`` over a
struct of all columns) — machine-parseable, schema'd, and still one
native expression.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def to_kafka_records(
    df: DataFrame,
    key_col: str = "key",
    legacy_tuple: bool = False,
    headers: dict[str, object] | None = None,
) -> DataFrame:
    """W6 — (key, value[, headers]) projection for a Kafka write.
    Default value is JSON over all non-key columns; ``legacy_tuple=True``
    emits the reference's Scala ``Invoice(a,b,...)`` toString byte
    format (InvoicePipeline.scala:141,147 map ``v.toString``) for
    consumers pinned to the old wire format.

    ``headers`` maps header names to Columns (or Python strings, taken
    as literals) and emits the built-in Kafka sink's wire shape — an
    ``array<struct<key string, value binary>>`` column named
    ``headers``, written verbatim when the sink has
    ``includeHeaders=true``. Header values are UTF-8 encoded; order is
    the dict's insertion order (Kafka headers are ordered and
    repeatable)."""
    payload = [c for c in df.columns if c != key_col]
    if legacy_tuple:
        value = F.concat(
            F.lit("Invoice("),
            F.concat_ws(",", *[F.col(c).cast("string") for c in payload]),
            F.lit(")"),
        )
    else:
        value = F.to_json(F.struct(*payload))
    cols = [F.col(key_col).cast("string").alias("key"), value.alias("value")]
    if headers:
        cols.append(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("key"),
                        (
                            h if isinstance(h, Column) else F.lit(h)
                        ).cast("string").cast("binary").alias("value"),
                    )
                    for name, h in headers.items()
                ]
            ).alias("headers")
        )
    return df.select(*cols)


def kafka_writer_options(
    brokers: str, topic: str, checkpoint: str
) -> dict[str, str]:
    """The exact option map kafka_sink hands the DataStreamWriter —
    factored out so its assembly is unit-testable without a broker."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def kafka_sink(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint: str,
    key_col: str = "key",
    output_mode: str = "update",
    trigger_interval: str | None = "20 seconds",  # IP:36 Seconds(20)
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """S4 — one output topic, built-in Kafka sink. With
    ``trigger_available_now`` the query drains what is available and
    stops, as parquet_sink and memory_sink do; ``trigger_interval`` is
    then ignored."""
    writer = (
        to_kafka_records(df, key_col)
        .writeStream.format("kafka")
        .options(**kafka_writer_options(brokers, topic, checkpoint))
        .outputMode(output_mode)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def parquet_sink(
    df: DataFrame, path: str, checkpoint: str, trigger_available_now: bool = False
) -> StreamingQuery:
    """Append-mode parquet sink (partitioned downstream consumption /
    golden tests without a broker)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def memory_sink(
    df: DataFrame,
    name: str,
    output_mode: str = "update",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """In-memory table sink (tests only)."""
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_collector(
    df: DataFrame,
    collect: Callable[[DataFrame, int], None],
    output_mode: str = "update",
    checkpoint: str | None = None,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """W4 — foreachBatch with a caller-supplied (batch_df, batch_id)
    callback; the router used by tests and multi-sink deployments. The
    reference's empty-RDD guard (InvoicePipeline.scala:62) is implicit:
    empty micro-batches still invoke the callback but write nothing."""
    writer = df.writeStream.foreachBatch(collect).outputMode(output_mode)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def overwrite_batch(bdf: DataFrame, bid: int, path: str) -> None:
    """The idempotent micro-batch write primitive: overwrite the
    batch's own ``batch_id=N/`` directory, so a replayed batch (crash
    between sink write and checkpoint commit) replaces its own previous
    attempt instead of appending duplicates, and no other batch's
    directory is touched. Readers of ``path`` discover ``batch_id`` as
    a partition column. Used by idempotent_parquet_sink and by
    foreachBatch routers that fan one batch out to several sinks
    transactionally."""
    bdf.write.mode("overwrite").parquet(f"{path}/batch_id={bid}")


def idempotent_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = False,
    output_mode: str = "append",
) -> StreamingQuery:
    """Exactly-once parquet delivery over foreachBatch (the reference's
    sink is fire-and-forget at-least-once, InvoicePipeline.scala:156-164;
    the plain parquet sink above is at-least-once on retry-after-crash).

    Mechanism: replayable source + deterministic batch ids + an
    IDEMPOTENT write — each micro-batch overwrites its own
    ``batch_id=N/`` directory (overwrite_batch), so a replayed batch
    (crash between sink write and checkpoint commit) replaces its own
    previous attempt instead of appending duplicates. The same pattern
    carries to any transactional target (JDBC upsert keyed on batch_id,
    Delta txn appId/version)."""
    def write(bdf: DataFrame, bid: int) -> None:
        overwrite_batch(bdf, bid, path)

    writer = df.writeStream.foreachBatch(write).outputMode(output_mode).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
