"""Spark-4 extension surfaces: Python UDTFs and Dataset.observe,
proven against the same operators the rest of the engine uses."""

from __future__ import annotations


def test_split_sentences_udtf_sql_lateral(spark):
    from bigdata_invoice_stream_analysis_spark.functions.udtf_fns import (
        split_sentences,
    )

    spark.udtf.register("split_sentences", split_sentences)
    docs = spark.createDataFrame(
        [(1, "Hello there. Second one!  Trailing tail"), (2, None), (3, "   ")],
        "doc_id int, text string",
    )
    docs.createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        "SELECT d.doc_id, s.* FROM udtf_docs d, LATERAL split_sentences(d.text) s"
    ).collect()
    got = sorted((r.doc_id, r.sent_idx, r.start_char, r.sentence) for r in rows)
    assert got == [
        (1, 0, 0, "Hello there."),
        (1, 1, 13, "Second one!"),
        (1, 2, 26, "Trailing tail"),
    ]
    # Offsets index the original string exactly.
    text = "Hello there. Second one!  Trailing tail"
    for _, _, start, sent in got:
        assert text[start : start + len(sent)] == sent


def test_observe_metrics_on_batch(spark, sf_dir):
    """Observation API: pipeline health metrics (row count, null rate,
    value sum) ride along with a real action at zero extra passes —
    the modern replacement for accumulator bookkeeping."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bigdata_invoice_stream_analysis_spark.sources.tables import load_table

    obs = Observation("orders_health")
    o = load_table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_cust"),
    )
    n = o.count()
    got = obs.get
    assert got["n_rows"] == n
    assert got["null_cust"] == 0
    assert got["cents"] > 0
