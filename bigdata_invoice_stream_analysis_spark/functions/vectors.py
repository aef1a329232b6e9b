"""Vector math as native Column expressions over array columns.

The reference does Vectors.sqdist / dot products on the driver or in
RDD closures (InvoicePipeline.scala:222-225). Here distance math runs
JVM-side inside codegen via higher-order array functions — no Python in
the hot path, no UDF serialization. Inputs are array<double|float>
columns; cast happens element-wise inside zip_with/transform.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sqdist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two array columns
    (Vectors.sqdist twin, InvoicePipeline.scala:224)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    """L2 norm of an array column."""
    return F.sqrt(dot(a, a))
