"""Batch + streaming sources and sinks."""

from bigdata_invoice_stream_analysis_spark.sources.tables import load_table, register_views

__all__ = ["load_table", "register_views"]
