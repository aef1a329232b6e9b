"""Line validation / routing predicates and the CSV→Purchase projection.

Reference semantics (SURVEY.md §2.2):
  P1 invalid line  — InvoicePipeline.scala:57-60: a line is invalid iff
     it does not split into exactly 8 fields or any field is empty.
  P2 cancelled     — InvoicePipeline.scala:65-67: InvoiceNo starts with "C".
  P3 good          — InvoicePipeline.scala:134: not invalid and not cancelled.
  P4 projection    — InvoicePipeline.scala:85-90: positional destructure,
     Quantity.toInt / UnitPrice.toDouble, StockCode+Description read but
     typed rows keep them (featurization never uses them).

Deviation (documented, SURVEY.md §1.3): the reference crashes on an
8-field line with a non-numeric Quantity (unguarded ``toInt``,
InvoicePipeline.scala:89). Here ``is_invalid_line(strict_numeric=True)``
routes such lines to the invalid sink instead.

All predicates are native Column expressions — they run inside
WholeStageCodegen, no Python in the hot path, and Catalyst can push
them into the source scan where legal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.schemas import PURCHASE_RAW_FIELDS

N_FIELDS = len(PURCHASE_RAW_FIELDS)  # 8

# Field positions in the raw line (InvoicePipeline.scala:87).
_POS = {name: i for i, name in enumerate(PURCHASE_RAW_FIELDS)}

# Quantity must be an optionally-signed integer, UnitPrice an optionally
# signed decimal, for the row to be machine-parseable.
_INT_RE = r"^-?\d+$"
_NUM_RE = r"^-?\d+(\.\d+)?$"


def split_line(line: Column) -> Column:
    """Split a raw CSV line into its fields. ``split`` with limit=-1
    keeps trailing empties, matching Scala's ``split(",")`` minus its
    trailing-empty truncation — the arity check below treats both a
    missing and an empty trailing field as invalid, so behavior matches
    the reference's "8 non-empty fields" rule either way."""
    return F.split(line, ",", -1)


def is_invalid_line(line: Column, strict_numeric: bool = True) -> Column:
    """P1 — invalid iff field count != 8 or any field empty
    (InvoicePipeline.scala:57-60); with ``strict_numeric`` additionally
    iff Quantity / UnitPrice are not numeric (rebuild improvement)."""
    fields = split_line(line)
    bad = (F.size(fields) != F.lit(N_FIELDS)) | F.exists(
        fields, lambda x: x == F.lit("")
    )
    if strict_numeric:
        # F.get (NULL past the end) not [] — SQL AND does not
        # short-circuit, so the index is evaluated even for short lines
        # and would raise under ANSI mode.
        arity_ok = F.size(fields) == F.lit(N_FIELDS)
        numeric_bad = arity_ok & (
            ~F.get(fields, _POS["Quantity"]).rlike(_INT_RE)
            | ~F.get(fields, _POS["UnitPrice"]).rlike(_NUM_RE)
        )
        bad = bad | F.coalesce(numeric_bad, F.lit(False))
    return bad


def is_cancelled_key(invoice_no: Column) -> Column:
    """P2 — cancelled iff the invoice number starts with "C"
    (InvoicePipeline.scala:65-67)."""
    return invoice_no.startswith("C")


def is_cancelled_line(line: Column) -> Column:
    """P2 applied to a raw line: field 0 is InvoiceNo (the reference
    tests the Kafka *key*, which the producer sets to field 0 —
    InvoiceDataProducer.scala:30)."""
    return is_cancelled_key(split_line(line)[_POS["InvoiceNo"]])


def is_good_line(line: Column) -> Column:
    """P3 — not invalid and not cancelled (InvoicePipeline.scala:134)."""
    return ~is_invalid_line(line) & ~is_cancelled_line(line)


def parse_purchases(df: DataFrame, line_col: str = "value") -> DataFrame:
    """P4 — project raw lines into typed purchase columns
    (InvoicePipeline.scala:85-90). Call on pre-filtered good lines, or
    rely on the safe casts: a non-numeric Quantity/UnitPrice becomes
    NULL (try_cast semantics) rather than an exception."""
    fields = split_line(F.col(line_col))
    return df.select(
        fields[_POS["InvoiceNo"]].alias("InvoiceNo"),
        fields[_POS["StockCode"]].alias("StockCode"),
        fields[_POS["Description"]].alias("Description"),
        fields[_POS["Quantity"]].try_cast("int").alias("Quantity"),
        fields[_POS["InvoiceDate"]].alias("InvoiceDate"),
        fields[_POS["UnitPrice"]].try_cast("double").alias("UnitPrice"),
        fields[_POS["CustomerID"]].alias("CustomerID"),
        fields[_POS["Country"]].alias("Country"),
    )


from bigdata_invoice_stream_analysis_spark.operators.fence import optimizer_fence  # noqa: E402


def with_routing(
    df: DataFrame, line_col: str = "value", strict_numeric: bool = True
) -> DataFrame:
    """Add ``fields`` (the split array), ``is_invalid`` and
    ``is_cancelled`` columns with ONE split per row, behind an
    optimizer fence. The predicate helpers above each embed their own
    ``split``; chaining several of them in one query re-splits the line
    per predicate (codegen CSE only catches textually identical trees
    inside one operator), and downstream filters would otherwise be
    alias-inlined and pushed below this projection entirely — this is
    the fused form the line-routing queries use."""
    fields = split_line(F.col(line_col))
    out = df.withColumn("fields", fields)
    fc = F.col("fields")
    bad = (F.size(fc) != F.lit(N_FIELDS)) | F.exists(fc, lambda x: x == F.lit(""))
    if strict_numeric:
        numeric_bad = (F.size(fc) == F.lit(N_FIELDS)) & (
            ~F.get(fc, _POS["Quantity"]).rlike(_INT_RE)
            | ~F.get(fc, _POS["UnitPrice"]).rlike(_NUM_RE)
        )
        bad = bad | F.coalesce(numeric_bad, F.lit(False))
    routed = out.withColumn("is_invalid", bad).withColumn(
        "is_cancelled", F.get(fc, _POS["InvoiceNo"]).startswith("C")
    )
    return optimizer_fence(routed)


def coerce_purchase_types(df: DataFrame) -> DataFrame:
    """P9 for an all-string raw purchase DataFrame (the CSV edge shape,
    schemas.PURCHASE_RAW_SCHEMA): try_cast Quantity→int and
    UnitPrice→double, so dirty values become NULL and are dropped by the
    feature validity filter instead of failing the job (the reference's
    inferSchema made Spark guess; Clustering.scala:77-82 then re-cast)."""
    return df.withColumn(
        "Quantity", F.col("Quantity").try_cast("int")
    ).withColumn("UnitPrice", F.col("UnitPrice").try_cast("double"))
