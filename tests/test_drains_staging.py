"""prepared_purchase_lines staging trim — equivalence pin.

prepared_purchase_lines pushes the two gate filters to the scans
(o_orderstatus IS NULL OR o_orderstatus <> 'F' ⟺ InvoiceNo NOT LIKE
'C%'; l_orderkey % 97 <> 0 ⟺ CustomerID <> '') and derives ``ts``
directly from the join columns instead of the
date_format→try_to_timestamp roundtrip. These tests pin row-identity
against the legacy shape rebuilt inline from purchase_rows, so any
future drift between the shared projection and the staged drain input
fails here rather than surfacing as a drain-gate oracle mismatch."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F


def _legacy_and_new(spark, sf_dir):
    from bigdata_invoice_stream_analysis_spark.functions.time_fns import (
        parse_invoice_ts,
    )
    from bigdata_invoice_stream_analysis_spark.plans.drains import (
        prepared_purchase_lines,
    )
    from bigdata_invoice_stream_analysis_spark.plans.queries import (
        purchase_rows,
    )

    legacy = purchase_rows(spark, sf_dir).filter(
        ~F.col("InvoiceNo").startswith("C") & (F.col("CustomerID") != "")
    ).select(
        "InvoiceNo",
        "CustomerID",
        F.col("Quantity").cast("double").alias("Quantity"),
        "UnitPrice",
        parse_invoice_ts(F.col("InvoiceDate")).alias("ts"),
        (F.col("line_no") % 3).alias("bkt"),
    )
    new = prepared_purchase_lines(spark, sf_dir)
    assert legacy.schema == new.schema
    return (sorted(map(tuple, legacy.collect())),
            sorted(map(tuple, new.collect())))


def test_prepared_purchase_lines_matches_legacy_shape(spark, sf_dir):
    a, b = _legacy_and_new(spark, sf_dir)
    assert len(a) > 0
    assert a == b


def test_prepared_purchase_lines_keeps_null_status_orders(
    spark, sf_dir, tmp_path
):
    """purchase_projection maps a NULL o_orderstatus to a non-cancelled
    InvoiceNo, so the pushed-down status filter must keep NULLs too."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    keys = [k for k in orders.column("o_orderkey").to_pylist()
            if k % 97 != 0][:3]
    orders = orders.filter(pc.is_in(orders.column("o_orderkey"),
                                    value_set=pa.array(keys)))
    status = orders.column("o_orderstatus").to_pylist()
    status[0] = None
    orders = orders.set_column(
        orders.schema.get_field_index("o_orderstatus"), "o_orderstatus",
        pa.array(status, type=pa.string()),
    )
    lineitem = pq.read_table(f"{sf_dir}/lineitem.parquet")
    lineitem = lineitem.filter(pc.is_in(lineitem.column("l_orderkey"),
                                        value_set=pa.array(keys)))
    pq.write_table(orders, tmp_path / "orders.parquet")
    pq.write_table(lineitem, tmp_path / "lineitem.parquet")

    a, b = _legacy_and_new(spark, str(tmp_path))
    null_key = str(orders.column("o_orderkey")[0].as_py())
    assert null_key in {r[0] for r in a}
    assert a == b


def test_ts_roundtrip_identity_on_orders(spark, sf_dir):
    """parse(format(order_ts)) == order_ts exactly: order_ts is
    minute-granular (DATE + minutes), so the legacy string roundtrip
    and the direct derivation are the same instant for every row —
    under the session's own time zone and under a DST zone."""
    conf = "spark.sql.session.timeZone"
    prev = spark.conf.get(conf)
    try:
        for tz in (prev, "America/New_York"):
            spark.conf.set(conf, tz)
            o = spark.read.parquet(f"{sf_dir}/orders.parquet")
            order_ts = F.timestamp_add(
                "MINUTE", (F.col("o_orderkey") % 1440).cast("int"),
                F.col("o_orderdate"),
            )
            rt = F.try_to_timestamp(
                F.date_format(order_ts, "MM/dd/yyyy HH:mm"),
                F.lit("MM/dd/yyyy HH:mm"),
            )
            bad = o.select(order_ts.alias("d"), rt.alias("r")).filter(
                F.col("r").isNull() | (F.col("d") != F.col("r"))
            )
            assert bad.count() == 0, tz
    finally:
        spark.conf.set(conf, prev)
