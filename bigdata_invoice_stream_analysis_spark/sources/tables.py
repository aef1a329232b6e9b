"""Parquet/CSV table loading (reference S1/S2, SURVEY.md §2.1).

The reference reads CSV with header + inferSchema via the external
spark-csv package (Clustering.scala:37-41). The rebuild prefers parquet
(columnar, statistics, predicate pushdown) and explicit schemas: for
CSV a declared one, for the driver's parquet tables the one their
footer already holds (footer_schema), so no read runs a Spark job to
infer it.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_invoice_stream_analysis_spark.schemas import PURCHASE_RAW_SCHEMA, TESTDATA_TABLES


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Spark's parquet inference for the plain types driver tables hold.
_SPARK_TYPES = {
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(),
}
# Spark writes its own schema into this footer key and reads it back
# in place of the parquet types.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _timestamp_type(column) -> T.DataType | None:
    """A timestamp column as Spark reads it, decided by its parquet
    logical type rather than the arrow type (pyarrow reads INT96 as a
    ns timestamp too): NANOS → long (what Spark infers under
    ``spark.sql.legacy.parquet.nanosAsLong``, and reads without that
    conf once the schema is given), UTC-adjusted → timestamp, not
    UTC-adjusted → timestamp_ntz. None for INT96."""
    if column is None or column.logical_type.type != "TIMESTAMP":
        return None
    logical = json.loads(column.logical_type.to_json())
    if logical["timeUnit"] == "nanoseconds":
        return T.LongType()
    return T.TimestampType() if logical["isAdjustedToUTC"] else T.TimestampNTZType()


def _spark_type(t: pa.DataType, column) -> T.DataType | None:
    if pa.types.is_timestamp(t):
        return _timestamp_type(column)
    if pa.types.is_list(t):
        elem = _SPARK_TYPES.get(t.value_type)
        return None if elem is None else T.ArrayType(elem, True)
    return _SPARK_TYPES.get(t)


def footer_schema(path: str) -> T.StructType | None:
    """Spark schema of a single parquet file, built from its footer
    with no Spark job and no session state — exactly what
    ``spark.read.parquet(path).schema`` infers (every field nullable),
    or None when the footer holds something not mapped here: a
    directory, a file Spark wrote with its own schema in the footer,
    INT96 timestamps, or any type outside _SPARK_TYPES and lists of
    them (binary, for one, reads as string under
    ``spark.sql.parquet.binaryAsString``)."""
    try:
        meta = pq.read_metadata(path)
    except (OSError, pa.ArrowException):
        return None
    if _SPARK_ROW_METADATA in (meta.metadata or {}):
        return None
    columns = {c.path: c for c in map(meta.schema.column, range(meta.num_columns))}
    fields = [
        (f.name, _spark_type(f.type, columns.get(f.name)))
        for f in meta.schema.to_arrow_schema()
    ]
    if any(dtype is None for _, dtype in fields):
        return None
    return T.StructType([T.StructField(name, dtype, True) for name, dtype in fields])


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """Spark schema of one driver table: its parquet footer mapped by
    footer_schema, or Spark's own inference (one job) for a footer that
    function cannot map. Streaming file sources need this schema up
    front; batch reads pass it to skip inference."""
    path = table_path(sf_dir, name)
    return footer_schema(path) or spark.read.parquet(path).schema


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """The one timestamp rule for driver tables, batch or streaming
    (the driver's generator has shipped BOTH encodings across rounds):

      * TIMESTAMP(NANOS) ``ts``, read as long: ``ts DIV 1000`` to
        micros. Integer division, NOT ``/ 1000`` in double: 2024
        epochs are ~2^60 ns, beyond double's 53-bit mantissa, so float
        division perturbs the microsecond digit. DuckDB truncates
        ns→us integrally; this matches it exactly.
      * TIMESTAMP(MICROS, isAdjustedToUTC=false), read as
        timestamp_ntz: cast to the session-TZ timestamp type, which
        time-instant functions (unix_micros, window) need. The session
        is pinned UTC, so the wall-clock values — and every derived
        hash — are unchanged, and DuckDB reads the same naive micros."""
    cols = {}
    for col, dtype in df.dtypes:
        if col == "ts" and dtype == "bigint":
            cols[col] = F.timestamp_micros(F.expr("ts DIV 1000"))
        elif dtype == "timestamp_ntz":
            cols[col] = F.col(col).cast("timestamp")
    return df.withColumns(cols) if cols else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table: a plain parquet scan (Catalyst
    handles column pruning + filter pushdown at the source) under the
    schema table_schema reads from the file's footer, so the load
    fires no schema-inference job and sets no session conf, then
    normalize_timestamps."""
    path = table_path(sf_dir, name)
    return normalize_timestamps(
        spark.read.schema(table_schema(spark, sf_dir, name)).parquet(path)
    )


def ensure_min_parallelism(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition iff the plan currently has fewer partitions than the
    session has cores. The driver's small-SF parquet is written as ONE
    row group, so a scan is one task and every downstream per-row
    expression runs serially no matter how many cores exist; a
    production-scale table has thousands of properly sized row groups
    and this is a no-op (the partition check is driver-side plan
    inspection — no job runs). Use upstream of CPU-heavy per-row work
    (string synthesis, hashing, shingling); skip for scans that feed
    straight into a shuffle, which redistributes anyway."""
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql queries."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_purchases_csv(
    spark: SparkSession, path: str, header: bool = True
) -> DataFrame:
    """S1 — batch CSV scan of raw purchase lines (Clustering.scala:37-41).

    Explicit schema (all-string at the edge) instead of inferSchema: one
    file pass instead of two, and dirty values (non-numeric Quantity)
    survive to be routed by operators.validate instead of crashing.
    """
    return (
        spark.read.option("header", str(header).lower())
        .schema(PURCHASE_RAW_SCHEMA)
        .csv(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    num_buckets: int,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Persist a table bucketed (and sorted) by its join key — the 100 TB
    posture for the recurring lineitem⋈orders-shaped join: two tables
    bucketed on the same key with the same bucket count join with NO
    Exchange on either side (and no sort, if sorted), because Catalyst
    recognizes the co-partitioning from catalog metadata. Bucket count
    rule of thumb at scale: total_size / bucket ≈ 128-512 MB.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
