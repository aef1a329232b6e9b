"""W2 state lifecycle across restarts: checkpoint recovery keeps keyed
state; the processing-time eviction timeout reproduces the reference's
drop-quiet-keys behavior (updateStateByKey returning None,
InvoicePipeline.scala:99)."""

from __future__ import annotations

import time

import pytest

from bigdata_invoice_stream_analysis_spark.streaming import pipeline as P
from bigdata_invoice_stream_analysis_spark.streaming import sinks, state
from bigdata_invoice_stream_analysis_spark.streaming.sources import file_lines_source


def _write_chunk(src, idx, lines):
    src.mkdir(exist_ok=True)
    p = src / f"chunk-{idx:06d}.txt"
    p.write_text("\n".join(lines) + "\n")
    import os

    os.utime(p, (1_700_000_000 + idx, 1_700_000_000 + idx))


class _Drain:
    """foreachBatch callback that keeps every emitted row and sets
    ``drained`` once a later empty batch proves the last data batch
    COMMITTED (a batch is only invoked after the previous one
    committed; stopping right when the sink sees rows could interrupt
    the commit and replay the batch after restart)."""

    def __init__(self):
        import threading

        self.rows: list = []
        self.data_bids: list[int] = []
        self.drained = threading.Event()

    def __call__(self, bdf, bid):
        got = bdf.collect()
        if got:
            self.rows.extend(got)
            self.data_bids.append(bid)
        elif self.data_bids and bid > max(self.data_bids):
            self.drained.set()

    def wait(self, q, timeout_s=120):
        """Return once ``q`` terminated by itself or its data batch
        committed, and always stop it: a query under a processing-time
        timeout never terminates (timer-evaluation batches keep
        scheduling, even under availableNow)."""
        try:
            for _ in range(int(timeout_s / 0.5)):
                if self.drained.is_set() or q.awaitTermination(0.5):
                    break
            else:
                raise TimeoutError(f"drain did not commit its data batch in {timeout_s}s")
        finally:
            q.stop()
            q.awaitTermination(60)
        return {r.InvoiceNo: r for r in self.rows}


def _run_once(spark, src, ckpt, evict_after_ms=None, build=None):
    """Drain the staged lines through ``build`` (default: the v1 Python
    state with ``evict_after_ms``) on the checkpoint ``ckpt``."""
    lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
    purchases = P.good_purchases(lines)
    if build is None:
        updates = state.apply_invoice_state(purchases, evict_after_ms=evict_after_ms)
    else:
        updates = build(purchases)
    drain = _Drain()
    q = sinks.foreach_batch_collector(
        updates, drain, output_mode="update", checkpoint=str(ckpt),
        trigger_available_now=True,
    )
    return drain.wait(q)


def line(inv, qty, date, price):
    return f"{inv},S1,item,{qty},{date},{price},7,ES"


def test_state_survives_restart(spark, tmp_path):
    """Run 1 seeds I1's state; run 2 (same checkpoint, new file) folds
    into the RECOVERED state: weighted mean spans both runs."""
    src, ckpt = tmp_path / "in", tmp_path / "ckpt"
    _write_chunk(src, 0, [line("I1", 2, "1/4/2011 9:15", "10.0")])
    r1 = _run_once(spark, src, ckpt)
    assert r1["I1"].Lines == 1
    assert r1["I1"].AvgUnitPrice == pytest.approx(10.0)

    _write_chunk(src, 1, [line("I1", 2, "1/4/2011 11:00", "30.0")])
    r2 = _run_once(spark, src, ckpt)
    assert set(r2) == {"I1"}  # only the updated key emits
    assert r2["I1"].Lines == 2  # batch count carried over the restart
    assert r2["I1"].AvgUnitPrice == pytest.approx((2 * 10 + 2 * 30) / 4)
    assert r2["I1"].Time == pytest.approx(11.0)  # head of the new batch


def test_exact_state_survives_restart(spark, tmp_path):
    """The JVM twin (pipeline.exact_invoice_state) recovers the same
    state: run 2 folds into run 1's sums, and its set of batch
    timestamps carries Lines over the restart."""
    src, ckpt = tmp_path / "in", tmp_path / "ckpt_jvm"
    _write_chunk(src, 0, [line("I1", 2, "1/4/2011 9:15", "10.0")])
    r1 = _run_once(spark, src, ckpt, build=P.exact_invoice_state)
    assert (r1["I1"].Lines, r1["I1"].Time) == (1, pytest.approx(9.25))

    _write_chunk(src, 1, [line("I1", 2, "1/4/2011 11:00", "30.0")])
    r2 = _run_once(spark, src, ckpt, build=P.exact_invoice_state)
    assert set(r2) == {"I1"}
    assert r2["I1"].Lines == 2
    assert r2["I1"].AvgUnitPrice == pytest.approx((2 * 10 + 2 * 30) / 4)
    assert r2["I1"].Time == pytest.approx(11.0)
    assert r2["I1"].LastUpdated > r1["I1"].LastUpdated


def test_state_v2_survives_restart(spark, tmp_path):
    """transformWithStateInPandas twin of test_state_survives_restart:
    run 1 seeds I1's value state in the RocksDB store; run 2 starts a
    NEW streaming query against the same checkpoint and must fold the
    new file into the RECOVERED state — min/max/items/Lines all span
    both runs, proving the RocksDB snapshot restore works end-to-end
    through the miniproto wire (state server re-created per query)."""
    from bigdata_invoice_stream_analysis_spark.streaming.runtime import (
        await_all,
        rocksdb_provider,
    )

    src, ckpt = tmp_path / "in", tmp_path / "ckpt_v2"

    def run_v2():
        lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
        updates = state.transform_invoice_state(P.good_purchases(lines))
        rows = []

        def collect(bdf, bid):
            rows.extend(bdf.collect())

        q = sinks.foreach_batch_collector(
            updates, collect, output_mode="update", checkpoint=str(ckpt),
            trigger_available_now=True,
        )
        await_all([q], 120)
        return {r.InvoiceNo: r for r in rows}

    with rocksdb_provider(spark):
        _write_chunk(src, 0, [line("I1", 2, "1/4/2011 9:15", "10.0")])
        r1 = run_v2()
        assert r1["I1"].Lines == 1
        assert r1["I1"].MinUnitPrice == pytest.approx(10.0)

        _write_chunk(src, 1, [line("I1", 2, "1/4/2011 11:00", "30.0")])
        r2 = run_v2()
    assert set(r2) == {"I1"}
    assert r2["I1"].Lines == 2  # batch count carried over the restart
    assert r2["I1"].MinUnitPrice == pytest.approx(10.0)  # recovered
    assert r2["I1"].MaxUnitPrice == pytest.approx(30.0)
    assert r2["I1"].NumberItems == pytest.approx(4.0)


def _run_v2_stop_after(spark, src, ckpt, build):
    """Drive a ProcessingTime-timeMode v2 transform over the staged file
    source and stop it from the driver once the data batch has
    COMMITTED (see _Drain)."""
    lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
    updates = build(lines)
    drain = _Drain()
    # One RocksDB state store spins up per shuffle partition per
    # micro-batch; these single-key fixtures need exactly 2.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            updates.writeStream.outputMode("update")
            .foreachBatch(drain)
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        return drain.wait(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def test_state_v2_timers_survive_restart(spark, tmp_path):
    """Timer-lifecycle checkpoint recovery: run 1 seeds I1's totals and
    fires its timer; run 2 starts a NEW query on the same checkpoint —
    the restored value state must fold the new file (n_rows/qty_sum span
    both runs) and a fresh timer must register and fire post-restore
    (n_fires spans both runs). Fired timers auto-delete, so nothing
    re-fires spuriously at restart."""
    from bigdata_invoice_stream_analysis_spark.streaming.runtime import (
        rocksdb_provider,
    )
    from bigdata_invoice_stream_analysis_spark.streaming.state import (
        transform_invoice_timers,
    )

    def build(lines):
        return transform_invoice_timers(P.good_purchases(lines))

    src, ckpt = tmp_path / "in", tmp_path / "ckpt_timers"
    with rocksdb_provider(spark):
        _write_chunk(src, 0, [line("I1", 2, "1/4/2011 9:15", "10.0")])
        r1 = _run_v2_stop_after(spark, src, ckpt, build)
        assert r1["I1"].n_rows == 1
        assert r1["I1"].qty_sum == 2
        assert r1["I1"].n_fires == 1  # emitted BY handleExpiredTimer

        _write_chunk(src, 1, [line("I1", 5, "1/4/2011 11:00", "30.0")])
        r2 = _run_v2_stop_after(spark, src, ckpt, build)
    assert set(r2) == {"I1"}
    assert r2["I1"].n_rows == 2   # value state recovered across restart
    assert r2["I1"].qty_sum == 7
    assert r2["I1"].n_fires == 2  # timer re-armed + fired post-restore


def test_state_v2_ttl_survives_restart(spark, tmp_path):
    """TTL column-family checkpoint recovery, both directions: a
    long-TTL key's state (incl. its TTL expiry metadata) is restored and
    folded across a restart; a short-TTL key left past its TTL while the
    query is STOPPED is evicted on the post-restart read — the expiry is
    checkpoint state, not an in-memory timer."""
    import time as _time

    from bigdata_invoice_stream_analysis_spark.streaming.runtime import (
        rocksdb_provider,
    )
    from bigdata_invoice_stream_analysis_spark.streaming.state import (
        transform_invoice_state,
    )

    def build_long(lines):
        return transform_invoice_state(
            P.good_purchases(lines), evict_after_ms=3_600_000
        )

    def build_short(lines):
        return transform_invoice_state(
            P.good_purchases(lines), evict_after_ms=500
        )

    with rocksdb_provider(spark):
        src, ckpt = tmp_path / "in_long", tmp_path / "ckpt_ttl_long"
        _write_chunk(src, 0, [line("I1", 2, "1/4/2011 9:15", "10.0")])
        r1 = _run_v2_stop_after(spark, src, ckpt, build_long)
        assert r1["I1"].Lines == 1

        _write_chunk(src, 1, [line("I1", 2, "1/4/2011 11:00", "30.0")])
        r2 = _run_v2_stop_after(spark, src, ckpt, build_long)
        assert r2["I1"].Lines == 2  # survived the restart (TTL not due)
        assert r2["I1"].MinUnitPrice == pytest.approx(10.0)
        assert r2["I1"].MaxUnitPrice == pytest.approx(30.0)

        src2, ckpt2 = tmp_path / "in_short", tmp_path / "ckpt_ttl_short"
        _write_chunk(src2, 0, [line("I2", 2, "1/4/2011 9:15", "10.0")])
        s1 = _run_v2_stop_after(spark, src2, ckpt2, build_short)
        assert s1["I2"].Lines == 1

        _time.sleep(1.2)  # past the 500 ms TTL, with the query STOPPED
        _write_chunk(src2, 1, [line("I2", 2, "1/4/2011 11:00", "30.0")])
        s2 = _run_v2_stop_after(spark, src2, ckpt2, build_short)
        # evicted across the restart: fresh state, not a fold
        assert s2["I2"].Lines == 1
        assert s2["I2"].MinUnitPrice == pytest.approx(30.0)


def test_quiet_key_eviction(spark, tmp_path):
    """With evict_after_ms, a key that stays quiet past the timeout is
    dropped (reference None-return semantics): its next purchase starts
    from the dummy seed instead of folding into old state."""
    src, ckpt = tmp_path / "in", tmp_path / "ckpt"
    _write_chunk(src, 0, [line("I9", 2, "1/4/2011 9:15", "10.0")])
    r1 = _run_once(spark, src, ckpt, evict_after_ms=500)
    assert r1["I9"].Lines == 1

    time.sleep(1.5)  # let the processing-time timeout expire
    # two more batches: the first fires the timeout (I9 quiet), the
    # second brings I9 back.
    _write_chunk(src, 1, [line("OTHER", 1, "1/4/2011 10:00", "5.0")])
    r2 = _run_once(spark, src, ckpt, evict_after_ms=500)
    assert "I9" not in r2  # quiet key emits nothing while evicted

    _write_chunk(src, 2, [line("I9", 1, "1/4/2011 12:00", "40.0")])
    r3 = _run_once(spark, src, ckpt, evict_after_ms=500)
    # fresh state: Lines restarts at 1, average is the new batch only
    assert r3["I9"].Lines == 1
    assert r3["I9"].AvgUnitPrice == pytest.approx(40.0)
    assert r3["I9"].MinUnitPrice == pytest.approx(40.0)
