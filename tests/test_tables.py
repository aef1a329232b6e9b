"""Driver-table schemas from the parquet footer, and the one timestamp
rule batch and streaming reads share (sources/tables.py).

footer_schema must equal Spark's own inference for every file it maps;
load_table must fire no Spark job and leave the session's conf alone;
a NANOS ``ts`` must truncate to micros exactly on both read paths."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.schemas import TESTDATA_TABLES
from bigdata_invoice_stream_analysis_spark.sources.tables import (
    footer_schema,
    load_table,
    normalize_timestamps,
    table_path,
    table_schema,
)
from bigdata_invoice_stream_analysis_spark.streaming.runtime import await_all

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"
# ~2^60 ns: a double holds 53 bits, so `ts / 1000` in double rounds the
# microsecond digit up to ...457; integer division keeps ...456.
TS_NS = 1704067200123456999
TS_US = 1704067200123456


def _infer_with_nanos(spark, path):
    """Spark's inference; a NANOS footer needs nanosAsLong to infer at all."""
    old = spark.conf.get(NANOS_KEY, None)
    spark.conf.set(NANOS_KEY, "true")
    try:
        return spark.read.parquet(path).schema
    finally:
        if old is None:
            spark.conf.unset(NANOS_KEY)
        else:
            spark.conf.set(NANOS_KEY, old)


def _write_events(tmp_path, unit="ns", tz=None):
    path = str(tmp_path / "events.parquet")
    ts = TS_NS if unit == "ns" else TS_US
    pq.write_table(
        pa.table({
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([ts], pa.timestamp(unit, tz=tz)),
            "user_id": pa.array([7], pa.int64()),
        }),
        path,
        version="2.6",
    )
    return path


def _jobs_in(spark, fn):
    """Spark jobs ``fn`` fires, counted by the status tracker under a
    job group of its own."""
    sc = spark.sparkContext
    group = f"footer-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_schema_matches_inference_on_driver_tables(spark, sf_dir):
    for name in TESTDATA_TABLES:
        path = table_path(sf_dir, name)
        assert footer_schema(path) == _infer_with_nanos(spark, path), name


@pytest.mark.parametrize(
    "unit,tz,want",
    [("ns", None, "bigint"), ("us", None, "timestamp_ntz"),
     ("ms", None, "timestamp_ntz"), ("us", "UTC", "timestamp")],
)
def test_footer_schema_matches_inference_on_timestamps(
    spark, tmp_path, unit, tz, want
):
    path = _write_events(tmp_path, unit, tz)
    got = footer_schema(path)
    assert got == _infer_with_nanos(spark, path)
    assert dict((f.name, f.dataType.simpleString()) for f in got)["ts"] == want


def test_table_schema_falls_back_to_inference(spark, tmp_path):
    """A footer the helper cannot map still gets Spark's own schema: a
    table written by Spark as a directory, a binary column (whose Spark
    type depends on spark.sql.parquet.binaryAsString) and an INT96
    timestamp (which pyarrow reports as a ns timestamp)."""
    spark.range(3).withColumn("s", F.col("id").cast("string")).write.parquet(
        table_path(str(tmp_path), "dir")
    )
    pq.write_table(
        pa.table({"k": pa.array([1]), "blob": pa.array([b"x"])}),
        table_path(str(tmp_path), "blob"),
    )
    pq.write_table(
        pa.table({"ts": pa.array([TS_NS], pa.timestamp("ns"))}),
        table_path(str(tmp_path), "int96"),
        use_deprecated_int96_timestamps=True,
    )
    for name in ("dir", "blob", "int96"):
        path = table_path(str(tmp_path), name)
        assert footer_schema(path) is None
        assert table_schema(spark, str(tmp_path), name) == spark.read.parquet(path).schema


def test_load_table_and_table_schema_fire_no_jobs(spark, sf_dir):
    # positive control: inference is a job, so the probe can see one
    assert _jobs_in(
        spark, lambda: spark.read.parquet(table_path(sf_dir, "orders")).schema
    ) >= 1
    for name in TESTDATA_TABLES:
        assert _jobs_in(spark, lambda: load_table(spark, sf_dir, name)) == 0, name
        assert _jobs_in(spark, lambda: table_schema(spark, sf_dir, name)) == 0, name


def test_load_table_leaves_session_conf_alone(spark, tmp_path):
    _write_events(tmp_path)
    before = spark.conf.get(NANOS_KEY, None)
    df = load_table(spark, str(tmp_path), "events")
    assert spark.conf.get(NANOS_KEY, None) == before
    assert df.select(F.unix_micros("ts")).first()[0] == TS_US


def test_nanos_ts_truncates_to_micros_on_batch_and_stream(spark, tmp_path):
    _write_events(tmp_path)
    sf_dir = str(tmp_path)
    batch = load_table(spark, sf_dir, "events")
    assert dict(batch.dtypes)["ts"] == "timestamp"
    assert batch.select(F.unix_micros("ts")).first()[0] == TS_US

    stream = normalize_timestamps(
        spark.readStream.schema(table_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    got = []
    q = (
        stream.select(F.unix_micros("ts").alias("us"))
        .writeStream.foreachBatch(lambda bdf, _bid: got.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_all([q], 120)
    assert [r.us for r in got] == [TS_US]

    # what float division did: the double rounds the microsecond digit up
    raw = spark.read.schema(table_schema(spark, sf_dir, "events")).parquet(
        table_path(sf_dir, "events")
    )
    assert raw.select((F.col("ts") / 1000).cast("long")).first()[0] == TS_US + 1
