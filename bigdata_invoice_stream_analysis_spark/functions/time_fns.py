"""Time column helpers (reference P6, SURVEY.md §2.2).

The reference parses InvoiceDate three inconsistent ways (SURVEY.md
§1.2); the rebuild defines ONE canonical parse + fractional hour used by
batch and streaming alike.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# UCI Online Retail dates are not zero-padded ("1/4/2011 9:15"); the
# reference's pattern "MM/dd/yyyy HH:mm" only works under Spark 2.x
# legacy parsing (Clustering.scala:49-52). Canonical rebuild pattern:
INVOICE_DATE_FMT = "M/d/yyyy H:mm"


def parse_invoice_ts(date_str: Column, fmt: str = INVOICE_DATE_FMT) -> Column:
    """P6 — parse the invoice-date string to a timestamp. try_to_timestamp
    so malformed dates yield NULL (routed by filters) instead of failing
    the task."""
    return F.try_to_timestamp(date_str, F.lit(fmt))


def fractional_hour(ts: Column) -> Column:
    """P6 — hour + minute/60.0 ∈ [0, 24) (Clustering.scala:55-58;
    streaming twin InvoicePipeline.scala:104-105)."""
    return F.hour(ts) + F.minute(ts) / F.lit(60.0)
