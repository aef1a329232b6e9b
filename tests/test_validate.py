"""Unit tests for operators.validate (P1-P4) on the FIXTURES.md §1
edge-case lines."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.operators import validate

GOOD = "536365,85123A,WHITE HANGING HEART,6,12/1/2010 8:26,2.55,17850,United Kingdom"
CANCELLED = "C536379,D,Discount,-1,12/1/2010 9:41,27.50,14527,United Kingdom"
SHORT = "536366,85123A,6,12/1/2010 8:28,2.55,17850,United Kingdom"  # 7 fields
LONG = GOOD + ",extra"  # 9 fields
EMPTY_CUST = "536367,84879,ASSORTED COLOUR BIRD,32,12/1/2010 8:34,1.69,,United Kingdom"
EMPTY_DESC = "536368,22960,,6,12/1/2010 8:34,4.25,13047,United Kingdom"
BAD_QTY = "536369,21756,BATH BUILDING BLOCK,abc,12/1/2010 8:35,5.95,13047,United Kingdom"
BAD_PRICE = "536370,22728,ALARM CLOCK,24,12/1/2010 8:45,x.xx,12583,France"
NEG_QTY = "C536371,22728,ALARM CLOCK,-24,12/1/2010 8:45,3.75,12583,France"

ALL = [GOOD, CANCELLED, SHORT, LONG, EMPTY_CUST, EMPTY_DESC, BAD_QTY, BAD_PRICE, NEG_QTY]


@pytest.fixture(scope="module")
def lines_df(spark):
    return spark.createDataFrame([(line,) for line in ALL], ["value"])


def collect_values(df):
    return {r["value"] for r in df.collect()}


def test_invalid_line_predicate(lines_df):
    invalid = collect_values(
        lines_df.filter(validate.is_invalid_line(F.col("value")))
    )
    # Reference P1 (arity/empty) + rebuild numeric guard (BAD_QTY/BAD_PRICE
    # crash the reference — InvoicePipeline.scala:89 unguarded toInt).
    assert invalid == {SHORT, LONG, EMPTY_CUST, EMPTY_DESC, BAD_QTY, BAD_PRICE}


def test_invalid_line_reference_mode(lines_df):
    # strict_numeric=False reproduces the reference's exact P1 semantics:
    # only arity + empty-field checks (InvoicePipeline.scala:57-60).
    invalid = collect_values(
        lines_df.filter(validate.is_invalid_line(F.col("value"), strict_numeric=False))
    )
    assert invalid == {SHORT, LONG, EMPTY_CUST, EMPTY_DESC}


def test_cancelled_and_good_routing(lines_df):
    line = F.col("value")
    invalid = validate.is_invalid_line(line)
    routes = {
        "invalid": lines_df.filter(invalid),
        "cancelled": lines_df.filter(~invalid & validate.is_cancelled_line(line)),
        "good": lines_df.filter(validate.is_good_line(line)),
    }
    assert collect_values(routes["cancelled"]) == {CANCELLED, NEG_QTY}
    assert collect_values(routes["good"]) == {GOOD}
    # every line lands in exactly one route
    total = sum(routes[r].count() for r in routes)
    assert total == len(ALL)


def test_parse_purchases_types(spark, lines_df):
    good = lines_df.filter(validate.is_good_line(F.col("value")))
    parsed = validate.parse_purchases(good)
    row = parsed.collect()[0]
    assert row["InvoiceNo"] == "536365"
    assert row["Quantity"] == 6 and isinstance(row["Quantity"], int)
    assert row["UnitPrice"] == pytest.approx(2.55)
    assert row["Country"] == "United Kingdom"
    assert dict(parsed.dtypes)["Quantity"] == "int"
    assert dict(parsed.dtypes)["UnitPrice"] == "double"


def test_parse_purchases_safe_on_dirty(spark):
    # try_cast semantics: non-numeric Quantity → NULL, not an exception
    df = spark.createDataFrame([(BAD_QTY,)], ["value"])
    row = validate.parse_purchases(df).collect()[0]
    assert row["Quantity"] is None
