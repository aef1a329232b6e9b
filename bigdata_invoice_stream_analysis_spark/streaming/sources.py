"""Streaming sources (reference S3 + test stand-ins).

The reference uses a ZK receiver DStream (InvoicePipeline.scala:198-204,
legacy kafka-0-8). The rebuild's production source is the Structured
Streaming Kafka source (offset-tracked, replayable, no receiver task);
CI/tests use a file source over a directory of line files — identical
downstream code because every source normalizes to the same envelope:

    key: string        -- Kafka key (InvoiceNo; derived from the line
                          for non-Kafka sources, as the producer would)
    value: string      -- the raw comma-joined 8-field line
    ingest_ts: timestamp -- arrival time (processing-time window mode)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _normalize_lines(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Attach the envelope columns to a raw-line stream: key = field 0
    (what the producer uses as the Kafka key,
    InvoiceDataProducer.scala:30-31) and an ingest timestamp."""
    return df.select(
        F.split(F.col(value_col), ",").getItem(0).alias("key"),
        F.col(value_col).alias("value"),
        F.current_timestamp().alias("ingest_ts"),
    )


def kafka_reader_options(
    brokers: str,
    topic: str = "purchases",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The exact option map kafka_lines_source hands the
    DataStreamReader — factored out so its assembly is unit-testable
    without a broker (the sandbox has none; the network hop is the only
    thing tests can't reach)."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def decode_kafka_records(records: DataFrame) -> DataFrame:
    """Normalize Kafka-wire rows (binary ``key``/``value`` + broker
    ``timestamp``) to the line envelope. Factored out of
    kafka_lines_source so the BYTE-LEVEL inverse of the producer's
    (key, value) encoding is testable without a broker: the cast
    binary→string is UTF-8 decode, the exact inverse of the string→
    binary encode the Kafka sink applies (tests/test_kafka_roundtrip)."""
    return records.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.col("timestamp").alias("ingest_ts"),
    )


def kafka_lines_source(
    spark: SparkSession,
    brokers: str,
    topic: str = "purchases",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S3 — Kafka source for the purchases topic. At scale, topic
    partitions map 1:1 to input tasks; `maxOffsetsPerTrigger` bounds
    per-micro-batch work so a backlog cannot produce an unbounded batch
    (the receiver DStream had no such guard)."""
    reader = spark.readStream.format("kafka").options(
        **kafka_reader_options(
            brokers, topic, starting_offsets, max_offsets_per_trigger
        )
    )
    return decode_kafka_records(reader.load())


def file_lines_source(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Test/replay source: a directory of text files, one raw line per
    row. `maxFilesPerTrigger=1` makes each dropped file one micro-batch —
    the deterministic stand-in for the reference's 20 s batches in the
    golden E2E test (SURVEY.md §5.3)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _normalize_lines(reader.load(path))
