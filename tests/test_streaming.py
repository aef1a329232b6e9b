"""Streaming E2E + semantics tests (SURVEY.md §5.3-5.4).

Broker-free: the producer's dir-replay drops chunk files consumed by the
file source with maxFilesPerTrigger=1, so each chunk ≙ one micro-batch
(the deterministic stand-in for the reference's 20 s Kafka batches).
All queries run with trigger(availableNow=True) and block to completion.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.operators import validate
from bigdata_invoice_stream_analysis_spark.streaming import pipeline as P
from bigdata_invoice_stream_analysis_spark.streaming import scoring, sinks, state
from bigdata_invoice_stream_analysis_spark.streaming.producer import replay_to_dir
from bigdata_invoice_stream_analysis_spark.streaming.runtime import await_all
from bigdata_invoice_stream_analysis_spark.streaming.sources import file_lines_source


def line(inv, qty, date, price, cust="7", country="ES", stock="S1", desc="item"):
    return f"{inv},{stock},{desc},{qty},{date},{price},{cust},{country}"


# Chunk 1 (micro-batch 1): two invoices + dirt + a cancellation.
CHUNK1 = [
    line("I1", 2, "1/4/2011 9:15", "10.0"),
    line("I1", 1, "1/4/2011 9:20", "30.0"),
    line("I2", 5, "1/4/2011 10:00", "2.0"),
    line("C9", 1, "1/4/2011 10:01", "5.0"),  # cancelled
    "bad,line,with,7,fields,only,x",  # invalid: arity 7
    line("I3", "x", "1/4/2011 10:02", "1.0"),  # invalid: non-numeric qty
    line("I4", 1, "1/4/2011 10:03", "1.0", cust=""),  # invalid: empty field
]
# Chunk 2 (micro-batch 2): I1 gets more lines; I2 is quiet; new C-invoice.
CHUNK2 = [
    line("I1", 3, "1/4/2011 11:30", "20.0"),
    line("C9", 1, "1/4/2011 11:31", "5.0"),  # same cancelled invoice again
    line("C10", 2, "1/4/2011 11:32", "7.0"),
    # watermark pusher: far-future event closes all earlier windows
    line("I5", 1, "1/4/2011 23:59", "4.0"),
]


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    src = tmp_path_factory.mktemp("stream_src")
    raw = src / "raw.csv"
    raw.write_text("\n".join(CHUNK1 + CHUNK2) + "\n")
    out = str(src / "chunks")
    n = replay_to_dir(str(raw), out, chunk=len(CHUNK1))
    assert n == len(CHUNK1) + len(CHUNK2)
    assert sorted(os.listdir(out)) == ["chunk-000000.txt", "chunk-000001.txt"]
    return out


def run_collect(spark, df, output_mode="update", checkpoint=None):
    """Run a streaming DF to completion, collecting (batch_id, rows)."""
    batches: list[tuple[int, list]] = []

    def collect(bdf, bid):
        batches.append((bid, bdf.collect()))

    q = sinks.foreach_batch_collector(
        df, collect, output_mode=output_mode, checkpoint=checkpoint,
        trigger_available_now=True,
    )
    # A silent timeout would leave `batches` incomplete and fail the
    # downstream asserts confusingly: await_all raises instead.
    await_all([q], 300)
    return batches


def test_invalid_routing(spark, stream_dir):
    lines = file_lines_source(spark, stream_dir, max_files_per_trigger=1)
    batches = run_collect(spark, P.invalid_lines(lines), output_mode="append")
    got = sorted(r.value for _, rows in batches for r in rows)
    assert got == sorted(
        [CHUNK1[4], CHUNK1[5], CHUNK1[6]]
    ), "exactly the three dirty lines route to the invalid sink"


def test_cancellation_window_counts(spark, stream_dir):
    lines = file_lines_source(spark, stream_dir, max_files_per_trigger=1)
    counts = P.cancellation_counts(
        lines, window="8 minutes", slide="1 minute", watermark="1 minute",
        time_mode="event",
    )
    batches = run_collect(spark, counts, output_mode="append")
    rows = {
        (r.window_start.strftime("%H:%M"), r.n_cancelled)
        for _, bat in batches for r in bat
    }
    # C9 at 10:01 → 8 sliding windows [09:54..10:01]; C9+C10 at 11:31/11:32
    # → windows covering both (C9 counted once per window despite two
    # lines). The 23:59 event pushes the watermark past all of them.
    assert ("10:01", 1) in rows
    assert ("09:54", 1) in rows
    assert ("11:31", 2) in rows  # both C9 and C10 in-window
    assert ("11:25", 2) in rows
    # dedup within window: no window ever counts C9 twice
    assert all(n <= 2 for _, n in rows)


def test_invoice_updates_match_batch(spark, stream_dir):
    """Train/serve consistency: the streaming update-mode aggregation's
    final state equals the batch aggregation over the same lines."""
    lines = file_lines_source(spark, stream_dir, max_files_per_trigger=1)
    updates = P.invoice_updates(P.good_purchases(lines))
    batches = run_collect(spark, updates, output_mode="update")
    final = {}
    for _, rows in batches:
        for r in rows:
            final[r.InvoiceNo] = r  # later batches overwrite

    # Batch twin over the same files.
    batch_lines = spark.read.text(stream_dir).select(
        F.col("value"), F.current_timestamp().alias("ingest_ts"),
        F.split("value", ",")[0].alias("key"),
    )
    expected = {
        r.InvoiceNo: r
        for r in P.invoice_updates(P.good_purchases(batch_lines)).collect()
    }
    assert set(final) == set(expected) == {"I1", "I2", "I5"}
    for k in expected:
        for col in ["AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time",
                    "NumberItems", "Lines"]:
            assert final[k][col] == pytest.approx(expected[k][col]), (k, col)
    # weighted mean: I1 = (2·10 + 1·30 + 3·20) / 6
    assert final["I1"].AvgUnitPrice == pytest.approx(110.0 / 6)
    assert final["I1"].NumberItems == 6.0


def test_legacy_state_semantics(spark, stream_dir, tmp_path):
    """W2 exact semantics: per-batch emission, batch-count Lines,
    head-of-batch Time, weighted running mean across batches."""
    lines = file_lines_source(spark, stream_dir, max_files_per_trigger=1)
    updates = state.apply_invoice_state(P.good_purchases(lines))
    batches = run_collect(
        spark, updates, output_mode="update",
        checkpoint=str(tmp_path / "ckpt_state"),
    )
    assert len(batches) >= 2, "maxFilesPerTrigger=1 must yield 2+ micro-batches"
    by_batch = {bid: {r.InvoiceNo: r for r in rows} for bid, rows in batches}
    b1, b2 = by_batch[0], by_batch[1]

    # Batch 1: I1 seen with 2 lines (one fold), I2 with 1.
    assert set(b1) == {"I1", "I2"}
    assert b1["I1"].Lines == 1
    assert b1["I1"].AvgUnitPrice == pytest.approx((2 * 10 + 1 * 30) / 3)
    assert b1["I1"].Time == pytest.approx(9 + 15 / 60)  # head of batch 1
    # Batch 2: only updated keys emitted — I2 is quiet and absent.
    assert set(b2) == {"I1", "I5"}
    assert b2["I1"].Lines == 2
    assert b2["I1"].AvgUnitPrice == pytest.approx(110.0 / 6)
    assert b2["I1"].Time == pytest.approx(11 + 30 / 60)  # head of batch 2
    assert b2["I1"].MinUnitPrice == 10.0
    assert b2["I1"].MaxUnitPrice == 30.0
    assert b2["I1"].NumberItems == 6.0


def test_stream_anomaly_scoring(spark, stream_dir):
    """M3/M4 on the update stream: plan-literal centroid scoring flags
    exactly the far-from-centroid invoices."""
    centers = [[2.0, 2.0, 2.0, 10.0, 5.0], [20.0, 10.0, 30.0, 10.0, 4.0]]
    lines = file_lines_source(spark, stream_dir, max_files_per_trigger=1)
    updates = P.invoice_updates(P.good_purchases(lines))
    flagged = scoring.anomalies_with_centroids(updates, centers, threshold=9.0)
    batches = run_collect(spark, flagged, output_mode="update")
    got = {r.InvoiceNo for _, rows in batches for r in rows}
    # I2 ≈ centroid0 (dist 0), I1-final ≈ centroid1 (dist < 9);
    # I5 (4,4,4,23.98,1) is far from both. I1's batch-1 interim state
    # (13.33,10,30,…) is also far — update-mode interim emissions flag it.
    assert "I5" in got
    assert "I2" not in got


def test_scoring_matches_numpy(spark):
    import numpy as np

    centers = [[1.0, 0.0, 2.0, 3.0, 4.0], [5.0, 5.0, 5.0, 5.0, 5.0]]
    rows = [(float(a), float(b), float(c), float(d), float(e))
            for a, b, c, d, e in np.random.default_rng(7).uniform(0, 8, (50, 5))]
    df = spark.createDataFrame(
        rows, ["AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time", "NumberItems"]
    )
    got = scoring.score_with_centroids(df, centers).collect()
    c = np.array(centers)
    for r in got:
        v = np.array([r.AvgUnitPrice, r.MinUnitPrice, r.MaxUnitPrice, r.Time,
                      r.NumberItems])
        d = ((c - v) ** 2).sum(axis=1)
        assert r.prediction == int(d.argmin())
        assert r.dist == pytest.approx(float(d.min()))


def test_state_v2_semantics(spark, stream_dir, tmp_path):
    """W2 on transformWithStateInPandas (state v2, RocksDB-backed):
    identical per-batch emission, Lines, head-of-batch Time, and
    weighted running mean as the applyInPandasWithState path. Skips
    where the protobuf wire dependency is absent (state.py gates it) —
    which no longer happens here: the miniproto shim
    (vendor/protobuf_shim) serves the wire protocol when the real
    package is missing, so this test EXECUTES state-v2 in this
    container; the JVM's Java-protobuf parser on the state server side
    is the wire-format interop oracle."""
    from bigdata_invoice_stream_analysis_spark.streaming.runtime import (
        rocksdb_provider,
    )
    from bigdata_invoice_stream_analysis_spark.vendor.protobuf_shim import install

    install()
    with rocksdb_provider(spark):
        lines = file_lines_source(spark, stream_dir, max_files_per_trigger=1)
        updates = state.transform_invoice_state(P.good_purchases(lines))
        batches = run_collect(
            spark, updates, output_mode="update",
            checkpoint=str(tmp_path / "ckpt_state_v2"),
        )
    assert len(batches) >= 2
    by_batch = {bid: {r.InvoiceNo: r for r in rows} for bid, rows in batches}
    b1, b2 = by_batch[0], by_batch[1]
    assert set(b1) == {"I1", "I2"}
    assert b1["I1"].Lines == 1
    assert b1["I1"].AvgUnitPrice == pytest.approx((2 * 10 + 1 * 30) / 3)
    assert b1["I1"].Time == pytest.approx(9 + 15 / 60)
    assert set(b2) == {"I1", "I5"}
    assert b2["I1"].Lines == 2
    assert b2["I1"].AvgUnitPrice == pytest.approx(110.0 / 6)
    assert b2["I1"].MinUnitPrice == 10.0
    assert b2["I1"].MaxUnitPrice == 30.0
    assert b2["I1"].NumberItems == 6.0


def test_state_v2_shim_installs_and_serves_pb2():
    """The environment gate is gone: vendor/protobuf_shim always makes
    google.protobuf importable (real install wins; otherwise the
    miniproto shim), and the generated StateMessage_pb2 module loads
    and round-trips the exact request shapes the state-v2 client
    builds. The full JVM interop is test_state_v2_semantics."""
    from bigdata_invoice_stream_analysis_spark.vendor.protobuf_shim import install

    mode = install()
    assert mode in ("real", "shim")
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    req = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=sm.CLOSED)
        )
    )
    back = sm.StateRequest()
    back.ParseFromString(req.SerializeToString())
    assert back.statefulProcessorCall.setHandleState.state == sm.CLOSED
    # ttl presence latch: READING cmd.ttl must not serialize an empty
    # ttl message; SETTING a nested field must
    cmd = sm.StateCallCommand(stateName="s")
    _ = cmd.ttl
    no_ttl = cmd.SerializeToString()
    cmd.ttl.durationMs = 1234
    with_ttl = cmd.SerializeToString()
    assert len(with_ttl) > len(no_ttl)
    parsed = sm.StateCallCommand()
    parsed.ParseFromString(with_ttl)
    assert parsed.ttl.durationMs == 1234 and parsed.stateName == "s"


def test_kafka_option_assembly():
    """Broker-free Kafka smoke (VERDICT r01 §missing-2): the sandbox has
    no broker, so pin the exact option maps the reader/writer are built
    from — the untestable surface shrinks to the network itself."""
    from bigdata_invoice_stream_analysis_spark.streaming.sinks import kafka_writer_options
    from bigdata_invoice_stream_analysis_spark.streaming.sources import kafka_reader_options

    r = kafka_reader_options(
        "b1:9092,b2:9092", topic="purchases",
        starting_offsets="earliest", max_offsets_per_trigger=50_000,
    )
    assert r == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "purchases",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "50000",  # Kafka options are strings
    }
    # default: unbounded batches are NOT silently configured
    assert "maxOffsetsPerTrigger" not in kafka_reader_options("b:9092")

    w = kafka_writer_options("b1:9092", "facturas_erroneas", "/ckpt/x")
    assert w == {
        "kafka.bootstrap.servers": "b1:9092",
        "topic": "facturas_erroneas",
        "checkpointLocation": "/ckpt/x",
    }


def test_kafka_record_projection_schema(spark):
    """The Kafka sink contract: exactly (key string, value string)."""
    df = spark.createDataFrame(
        [("I1", 2, 10.5)], ["InvoiceNo", "Quantity", "UnitPrice"]
    )
    rec = sinks.to_kafka_records(df, key_col="InvoiceNo")
    assert rec.columns == ["key", "value"]
    assert dict(rec.dtypes) == {"key": "string", "value": "string"}


def test_idempotent_sink_exactly_once(spark, stream_dir, tmp_path):
    """Replaying a micro-batch into the idempotent sink overwrites its
    own partition instead of duplicating rows (exactly-once delivery
    from a replayable source)."""
    out = str(tmp_path / "out")
    lines = file_lines_source(spark, stream_dir, max_files_per_trigger=1)
    good = P.good_purchases(lines).select("InvoiceNo", "Quantity", "UnitPrice")
    q = sinks.idempotent_parquet_sink(
        good, out, str(tmp_path / "ckpt"), trigger_available_now=True
    )
    await_all([q], 120)
    first = spark.read.parquet(out)
    rows = sorted(map(tuple, first.collect()))
    n1 = len(rows)
    assert n1 == 5
    assert dict(first.dtypes)["batch_id"] == "int"
    # Simulate a crash-replay of batch 0: rerun the SAME batch write
    # through the package's own write primitive. The replayed rows come
    # from the source in a real replay, so they are materialized here
    # rather than read lazily from the directory being overwritten.
    batch0 = first.filter(F.col("batch_id") == 0).drop("batch_id")
    replay = spark.createDataFrame(batch0.collect(), batch0.schema)
    n0 = replay.count()
    assert 0 < n0 < n1
    sinks.overwrite_batch(replay, 0, out)
    again = spark.read.parquet(out)
    assert again.count() == n1, "replay must not duplicate"
    assert again.filter(F.col("batch_id") == 0).count() == n0
    # An empty micro-batch replayed twice adds no rows, leaves the
    # other batches' directories alone and keeps batch_id an int.
    empty = replay.limit(0)
    for _ in range(2):
        sinks.overwrite_batch(empty, 7, out)
    after = spark.read.parquet(out)
    assert after.count() == n1
    assert dict(after.dtypes)["batch_id"] == "int"
    assert sorted(map(tuple, after.collect())) == rows


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """Watermark semantics pinned: a cancellation arriving in a LATER
    micro-batch with an event time older than (max_ts - watermark) is
    dropped from the windowed counts — late data cannot resurrect a
    finalized window. The same cancellation arriving on time (batch 1)
    IS counted."""
    d = tmp_path / "chunks"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    batches: list = []

    def drain():
        # One availableNow drain per arrival, all sharing a checkpoint:
        # the watermark persists across restarts, and each drain sees
        # only files added since the last — a DETERMINISTIC arrival
        # order. (The file source's initial-listing order across
        # already-present files is not mtime/path-deterministic; the
        # single-dir form of this test flaked when the "late" chunk
        # happened to be listed first, before any watermark existed.)
        lines = file_lines_source(spark, str(d), max_files_per_trigger=1)
        counts = P.cancellation_counts(
            lines, window="8 minutes", slide="1 minute", watermark="1 minute",
            time_mode="event",
        )
        batches.extend(run_collect(
            spark, counts, output_mode="append", checkpoint=ckpt
        ))

    (d / "chunk-000000.txt").write_text(
        "\n".join([
            line("C1", 1, "1/4/2011 9:00", "1.0"),
            line("10", 1, "1/4/2011 12:00", "1.0"),  # watermark -> ~11:59
        ]) + "\n"
    )
    drain()
    (d / "chunk-000001.txt").write_text(
        # 9:05 is hours behind the 1-minute watermark: must be dropped.
        line("C2", 1, "1/4/2011 9:05", "1.0") + "\n"
    )
    drain()
    (d / "chunk-000002.txt").write_text(
        # pushes the watermark further so every window finalizes
        line("11", 1, "1/4/2011 23:00", "1.0") + "\n"
    )
    drain()
    windows = {
        (r.window_start.strftime("%H:%M"), r.n_cancelled)
        for _, bat in batches for r in bat
    }
    assert ("09:00", 1) in windows, "on-time C1 counted"
    assert not any(s == "09:05" for s, _ in windows), "late C2 dropped"
    assert all(n == 1 for _, n in windows)


def _two_level_cancellation_counts(lines, window, slide, watermark):
    """The chained reference for cancellation_counts: dedup on (window,
    InvoiceNo), then count per window — two stateful aggregations."""
    keep = F.when(
        F.col("ts").isNotNull(),
        ~validate.is_invalid_line(F.col("value"))
        & validate.is_cancelled_line(F.col("value")),
    ).otherwise(F.lit(False))
    cancelled = (
        P.with_time(lines).withWatermark("ts", watermark).filter(keep)
        .select(F.col("key").alias("InvoiceNo"), "ts")
    )
    per_invoice = cancelled.groupBy(
        F.window("ts", window, slide).alias("window"), "InvoiceNo"
    ).count()
    return per_invoice.groupBy("window").agg(
        F.count(F.lit(1)).alias("n_cancelled")
    ).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_cancelled",
    )


def test_cancellation_counts_one_state_store_matches_two_level(spark, tmp_path):
    """cancellation_counts runs ONE stateful operator, keeps
    n_cancelled a bigint, and emits exactly the windows the two-level
    dedup→count reference emits over the same arrivals: repeated
    cancellations of one invoice, a late cancellation behind the
    watermark (dropped by both) and on-time ones after it."""
    d = tmp_path / "chunks"
    d.mkdir()
    arrivals = [
        CHUNK1,
        CHUNK2,
        [
            line("C11", 1, "1/4/2011 11:33", "5.0"),  # late: dropped
            line("C12", 1, "1/4/2011 23:58", "5.0"),
            line("C9", 2, "1/4/2011 23:59", "5.0"),
            line("C12", 1, "1/4/2011 23:59", "5.0"),
        ],
        [line("I6", 1, "1/5/2011 9:00", "4.0")],  # closes every window
    ]
    kw = dict(window="8 minutes", slide="1 minute", watermark="1 minute")
    builders = {
        "one": lambda lines: P.cancellation_counts(lines, time_mode="event", **kw),
        "two": lambda lines: _two_level_cancellation_counts(lines, **kw),
    }
    rows: dict[str, set] = {k: set() for k in builders}
    operators: dict[str, int] = {}
    for i, chunk in enumerate(arrivals):
        (d / f"chunk-{i:06d}.txt").write_text("\n".join(chunk) + "\n")
        for k, build in builders.items():
            counts = build(file_lines_source(spark, str(d), max_files_per_trigger=1))
            if k == "one":
                assert dict(counts.dtypes)["n_cancelled"] == "bigint"

            def collect(bdf, bid, k=k):
                rows[k].update(map(tuple, bdf.collect()))

            q = sinks.foreach_batch_collector(
                counts, collect, output_mode="append",
                checkpoint=str(tmp_path / f"ckpt_{k}"),
                trigger_available_now=True,
            )
            await_all([q], 300)
            operators[k] = len(q.lastProgress["stateOperators"])
    assert operators == {"one": 1, "two": 2}
    assert rows["one"] == rows["two"]
    by_start = {s.strftime("%H:%M"): n for s, _, n in rows["one"]}
    assert by_start["10:01"] == 1 and by_start["11:31"] == 2
    assert by_start["23:58"] == 2  # C12 twice, C9 once: two invoices
    # late C11 dropped: it alone would open 11:33 and make 11:26-11:31 read 3
    assert "11:33" not in by_start and max(by_start.values()) == 2
