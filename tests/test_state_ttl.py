"""State-v2 TTL lifecycle (round 5): engine-managed value-state TTL
(ttlDurationMs, RocksDB TTL column family, ProcessingTime timeMode)
exercised through the shared drain runner, plus the regression gate for
the r04 finding that availableNow NEVER terminates under ProcessingTime
timeMode (timer-evaluation batches keep scheduling; measured 167+ empty
batches in 90 s) — the drain must stop from the driver instead."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.plans.drains import (
    run_custom_state_drain,
)
from bigdata_invoice_stream_analysis_spark.streaming.runtime import rocksdb_provider
from bigdata_invoice_stream_analysis_spark.streaming.state import (
    transform_invoice_state,
)


def _bucketed_fixture(spark):
    # I1 spans all three buckets, I2 only bucket 0, I3 only bucket 2.
    rows = [
        ("I1", "C1", 2.0, 10.0, 0),
        ("I2", "C2", 1.0, 5.0, 0),
        ("I1", "C1", 3.0, 20.0, 1),
        ("I1", "C1", 1.0, 30.0, 2),
        ("I3", "C3", 4.0, 7.0, 2),
    ]
    return spark.createDataFrame(
        rows,
        "InvoiceNo string, CustomerID string, Quantity double, "
        "UnitPrice double, bkt int",
    ).withColumn("ts", F.lit("2011-01-04 09:15:00").cast("timestamp"))


def test_ttl_drain_evicts_between_batches_and_terminates(spark):
    """With evict_after_ms=1 every micro-batch sees the previous state
    expired (consecutive batches are always >1 ms apart), so each key's
    final snapshot aggregates ONLY its last bucket and ``lines`` is
    reseeded to 1 — the deterministic surviving-window semantics the
    streaming_state_ttl oracle pins. The drain finishing at all IS the
    availableNow regression gate: stop_after_files must detect the 3
    consumed files and stop the otherwise-unbounded query."""
    t0 = time.time()
    with rocksdb_provider(spark):
        acc = run_custom_state_drain(
            spark,
            _bucketed_fixture(spark),
            transform=lambda s: transform_invoice_state(s, evict_after_ms=1),
            prefix="test_state_ttl",
            stop_after_files=True,
        )
    assert time.time() - t0 < 120  # stopped, not timer-batching forever
    assert dict(sorted(acc.items())) == {
        # last bucket only, lines reseeded — NOT the cross-batch fold
        # (which would be I1 -> (10.0, 30.0, 6.0, 3))
        "I1": (30.0, 30.0, 1.0, 1),
        "I2": (5.0, 5.0, 1.0, 1),
        "I3": (7.0, 7.0, 4.0, 1),
    }


def test_no_ttl_drain_still_terminates_under_available_now(spark):
    """Companion regression gate: without TTL, transform_invoice_state
    must keep timeMode="None" so the plain availableNow drain (the
    streaming_state_v2 path) terminates promptly — flipping it to
    ProcessingTime unconditionally would hang every v2 gate."""
    with rocksdb_provider(spark):
        acc = run_custom_state_drain(
            spark,
            _bucketed_fixture(spark),
            transform=transform_invoice_state,
            prefix="test_state_nottl",
        )
    # cross-batch fold: state survived all three micro-batches
    assert acc["I1"] == (10.0, 30.0, 6.0, 3)
    assert acc["I2"] == (5.0, 5.0, 1.0, 1)
    assert acc["I3"] == (7.0, 7.0, 4.0, 1)


def test_rocksdb_provider_restores_prior_setting(spark):
    """The shared contextmanager must restore a pre-existing provider
    and unset a previously-unset one — the four gates and the probe all
    lean on this."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    before = spark.conf.get(key, None)
    try:
        with rocksdb_provider(spark):
            assert spark.conf.get(key) == rocks
        assert spark.conf.get(key, None) == before
        spark.conf.set(key, "com.example.CustomProvider")
        with rocksdb_provider(spark):
            assert spark.conf.get(key) == rocks
        assert spark.conf.get(key) == "com.example.CustomProvider"
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_timer_drain_fires_once_per_data_batch(spark):
    """State-v2 timers: every output row comes from handleExpiredTimer.
    An already-expired timer fires within its registration batch after
    input rows and is auto-deleted, so per key n_fires == number of
    buckets containing it and the last fire snapshots complete totals."""
    from bigdata_invoice_stream_analysis_spark.plans.drains import (
        run_timer_state_drain,
    )

    with rocksdb_provider(spark):
        acc = run_timer_state_drain(
            spark, _bucketed_fixture(spark), prefix="test_state_timers"
        )
    assert dict(sorted(acc.items())) == {
        "I1": (3, 6, 3),  # one fire per bucket; totals complete at last fire
        "I2": (1, 1, 1),
        "I3": (1, 4, 1),
    }


def test_list_map_state_semantics(spark):
    """State-v2 ListState/MapState on the 3-bucket fixture: the list
    gets one entry per data batch IN ORDER (position-weighted sum is
    order-sensitive), the map folds per-band counts across batches."""
    from bigdata_invoice_stream_analysis_spark.plans.drains import (
        _stage_bucketed_stream,
    )
    from bigdata_invoice_stream_analysis_spark.plans.queries import _run_drain
    from bigdata_invoice_stream_analysis_spark.scratch import fresh_checkpoint
    from bigdata_invoice_stream_analysis_spark.streaming.state import (
        transform_invoice_list_map,
    )

    acc = {}

    def sink(bdf, _bid):
        for r in bdf.collect():
            acc[r["InvoiceNo"]] = (
                r["n_batches"], r["weighted_qty"],
                r["n_bands"], r["band_checksum"],
            )

    with rocksdb_provider(spark):
        stream = _stage_bucketed_stream(
            spark, _bucketed_fixture(spark), "test_list_map", 3
        )
        writer = (
            transform_invoice_list_map(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", fresh_checkpoint("test_lm_ckpt_"))
            .trigger(availableNow=True)
        )
        _run_drain(spark, writer)
    assert dict(sorted(acc.items())) == {
        # I1 qty per bucket [2, 3, 1] -> weighted 1*2 + 2*3 + 3*1 = 11;
        # bands {2,3,1} once each -> checksum 6
        "I1": (3, 11, 3, 6),
        "I2": (1, 1, 1, 1),     # qty 1 -> band 1
        "I3": (1, 4, 1, 0),     # qty 4 -> band 0
    }
