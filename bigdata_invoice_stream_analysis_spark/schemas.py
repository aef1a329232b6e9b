"""Explicit schemas shared by batch and streaming.

The reference is schema-on-read: training infers from CSV
(Clustering.scala:37-41) and streaming destructures positionally
(InvoicePipeline.scala:85-90). The rebuild pins ONE StructType per
dataset so batch, streaming, and tests agree (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw purchase line: the 8-column UCI Online Retail shape
# (InvoicePipeline.scala:57-60; FIXTURES.md §1). All strings at the
# edge — typing happens in operators.validate.parse_purchases so that
# malformed values route to the invalid sink instead of crashing
# (the reference's unguarded `toInt` at InvoicePipeline.scala:89 would).
PURCHASE_RAW_FIELDS = [
    "InvoiceNo",
    "StockCode",
    "Description",
    "Quantity",
    "InvoiceDate",
    "UnitPrice",
    "CustomerID",
    "Country",
]

PURCHASE_RAW_SCHEMA = T.StructType(
    [T.StructField(name, T.StringType(), True) for name in PURCHASE_RAW_FIELDS]
)

# Typed purchase line after parse/validate (InvoicePipeline.scala:19-20
# `case class Purchase`, plus the two columns the reference discards).
PURCHASE_SCHEMA = T.StructType(
    [
        T.StructField("InvoiceNo", T.StringType(), True),
        T.StructField("StockCode", T.StringType(), True),
        T.StructField("Description", T.StringType(), True),
        T.StructField("Quantity", T.IntegerType(), True),
        T.StructField("InvoiceDate", T.StringType(), True),
        T.StructField("UnitPrice", T.DoubleType(), True),
        T.StructField("CustomerID", T.StringType(), True),
        T.StructField("Country", T.StringType(), True),
    ]
)

# Per-invoice aggregate feature row (Clustering.scala:67-85 batch /
# InvoicePipeline.scala:22-24 stream state). Feature-vector order for
# models: [AvgUnitPrice, MinUnitPrice, MaxUnitPrice, Time, NumberItems]
# (Clustering.scala:109-123).
FEATURE_COLS = ["AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time", "NumberItems"]

INVOICE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("InvoiceNo", T.StringType(), True),
        T.StructField("AvgUnitPrice", T.DoubleType(), True),
        T.StructField("MinUnitPrice", T.DoubleType(), True),
        T.StructField("MaxUnitPrice", T.DoubleType(), True),
        T.StructField("Time", T.DoubleType(), True),
        T.StructField("NumberItems", T.DoubleType(), True),
    ]
)

# Streaming keyed-state value (InvoicePipeline.scala:22-24 `case class
# Invoice` + bookkeeping). The rows of streaming.pipeline.exact_invoice_state
# and of its Python twins in streaming.state.
INVOICE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("InvoiceNo", T.StringType(), True),
        T.StructField("AvgUnitPrice", T.DoubleType(), True),
        T.StructField("MinUnitPrice", T.DoubleType(), True),
        T.StructField("MaxUnitPrice", T.DoubleType(), True),
        T.StructField("Time", T.DoubleType(), True),
        T.StructField("NumberItems", T.DoubleType(), True),
        T.StructField("LastUpdated", T.LongType(), True),
        T.StructField("Lines", T.IntegerType(), True),
        T.StructField("CustomerID", T.StringType(), True),
    ]
)

# Kafka stream envelope (FIXTURES.md §2): key = InvoiceNo, value = the
# comma-joined 8-field line, timestamp = broker arrival time.
KAFKA_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Driver test tables (/root/testdata/sf*/ — TESTDATA.md). Explicit
# schemas are not required to read parquet, but the names are used all
# over plans/queries.py; keep the canonical list here.
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
