"""Scale-path proofs: the claims the 100 TB posture rests on, verified
against actual physical plans / alternate state-store providers at
small SF (SURVEY.md §7 Stage 5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.sources.tables import load_table, write_bucketed


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Pre-bucketing both join sides on the key removes the shuffle:
    the joined plan must contain no Exchange, and match the plain join's
    result."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", "l_orderkey", 4, path=str(tmp_path / "li_b"))
    write_bucketed(o, "o_b", "o_orderkey", 4, path=str(tmp_path / "o_b"))
    try:
        lib, ob = spark.table("li_b"), spark.table("o_b")
        joined = lib.join(ob, lib.l_orderkey == ob.o_orderkey)
        # disable broadcast so the co-partitioned path is what's tested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            expected = li.join(o, li.l_orderkey == o.o_orderkey).count()
            assert joined.count() == expected
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_legacy_state_on_rocksdb(spark, tmp_path):
    """The keyed invoice state (W2) runs unchanged on the RocksDB state
    store provider — the provider that holds billion-key state off-heap
    on a real cluster."""
    from bigdata_invoice_stream_analysis_spark.streaming import pipeline as P
    from bigdata_invoice_stream_analysis_spark.streaming import sinks, state
    from bigdata_invoice_stream_analysis_spark.streaming.producer import replay_to_dir
    from bigdata_invoice_stream_analysis_spark.streaming.sources import file_lines_source

    raw = tmp_path / "raw.csv"
    raw.write_text(
        "I1,S1,item,2,1/4/2011 9:15,10.0,7,ES\n"
        "I1,S1,item,1,1/4/2011 9:20,30.0,7,ES\n"
        "I2,S1,item,5,1/4/2011 10:00,2.0,7,ES\n"
    )
    src = str(tmp_path / "chunks")
    replay_to_dir(str(raw), src, chunk=2)

    from bigdata_invoice_stream_analysis_spark.streaming.runtime import (
        await_all,
        rocksdb_provider,
    )

    with rocksdb_provider(spark):
        lines = file_lines_source(spark, src, max_files_per_trigger=1)
        updates = state.apply_invoice_state(P.good_purchases(lines))
        rows: dict[str, object] = {}

        def collect(bdf, bid):
            for r in bdf.collect():
                rows[r.InvoiceNo] = r

        q = sinks.foreach_batch_collector(
            updates, collect, output_mode="update",
            checkpoint=str(tmp_path / "ckpt"), trigger_available_now=True,
        )
        await_all([q], 120)

    assert set(rows) == {"I1", "I2"}
    assert rows["I1"].AvgUnitPrice == pytest.approx((2 * 10 + 1 * 30) / 3)
    assert rows["I1"].Lines == 1  # both I1 lines arrive in chunk 0
    assert rows["I1"].MinUnitPrice == 10.0
    assert rows["I2"].NumberItems == 5.0


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """The invoice aggregation must partial-aggregate map-side (shuffle
    volume O(invoices), not O(lines))."""
    from bigdata_invoice_stream_analysis_spark.plans.queries import QUERIES

    plan = (
        QUERIES["invoice_features"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning(InvoiceNo" in plan, plan
    assert "partial_" in plan, plan  # map-side combine present


def test_aqe_splits_skewed_join(spark, tmp_path):
    """AQE skew-join handling: a pathologically hot key (one key owning
    ~all fact rows) makes one shuffle partition giant; with skewJoin
    enabled AQE splits it into multiple tasks at runtime — the no-code
    answer to key skew (the hand-rolled alternative is operators/skew
    salting). The executed SMJ must be marked skew=true and results
    must be identical to the unskewed plan."""
    fact = spark.range(0, 60_000).select(
        F.when(F.col("id") % 100 < 99, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 70_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("dval"))
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = fact.join(dim, "k")
        # Execute THIS DataFrame's plan, then read the same
        # QueryExecution: AQE finalizes the plan only on execution
        # (count() would plan a separate query and leave this one
        # isFinalPlan=false).
        n = len(joined.collect())
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert n == 60_000
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact(spark, sf_dir):
    """Runtime (bloom) filter: a selective dim-side predicate is
    compiled into a bloom filter evaluated on the fact side BEFORE the
    join shuffle — at 100 TB this is the difference between shuffling
    the whole fact table and shuffling the ~matching slice. The
    optimized plan must carry bloom_filter_might_contain on the fact
    side. (Requires file-source scans: the rule keys off scan size
    statistics, which is why parquet tables are used here.)"""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
        p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 3).select(
            "p_partkey"
        )
        joined = li.join(p, li.l_partkey == p.p_partkey)
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan
        assert joined.count() > 0
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
