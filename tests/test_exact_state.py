"""W2 as a JVM aggregation: pipeline.exact_invoice_state against its
Python twin state.apply_invoice_state, its documented batch-head rule,
and the zero-quantity guard every per-invoice builder shares.

Inputs are good-purchase rows staged as parquet files written straight
with pyarrow (no Spark job), one file per micro-batch
(maxFilesPerTrigger=1, increasing mtimes).
"""

from __future__ import annotations

import math
import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigdata_invoice_stream_analysis_spark.schemas import INVOICE_STATE_SCHEMA
from bigdata_invoice_stream_analysis_spark.streaming import pipeline as P
from bigdata_invoice_stream_analysis_spark.streaming import runtime, sinks, state

SCHEMA = "ts timestamp, InvoiceNo string, Quantity int, UnitPrice double, CustomerID string"
DAY = datetime(2011, 1, 4, tzinfo=timezone.utc)
FLOATS = ("AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time", "NumberItems")
EXACT = ("Lines", "CustomerID")


def _at(hh_mm: str | None):
    if hh_mm is None:
        return None
    h, m = map(int, hh_mm.split(":"))
    return DAY + timedelta(hours=h, minutes=m)


def _stage(src, batches) -> str:
    """One parquet file per batch of (ts, InvoiceNo, Quantity,
    UnitPrice, CustomerID) rows, in file order."""
    src.mkdir()
    for i, rows in enumerate(batches):
        cols = list(zip(*rows))
        table = pa.table(
            {
                "ts": pa.array(cols[0], pa.timestamp("us", tz="UTC")),
                "InvoiceNo": pa.array(cols[1], pa.string()),
                "Quantity": pa.array(cols[2], pa.int32()),
                "UnitPrice": pa.array(cols[3], pa.float64()),
                "CustomerID": pa.array(cols[4], pa.string()),
            }
        )
        path = src / f"batch-{i:03d}.parquet"
        pq.write_table(table, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return str(src)


def _run(spark, src: str, build, ckpt, partitions: int = 2) -> dict:
    """Drain ``build`` over the staged stream under ``partitions`` state
    partitions; every emitted row keyed by (batch id, InvoiceNo)."""
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    rows: dict = {}

    def collect(bdf, bid):
        for r in bdf.collect():
            rows[(bid, r.InvoiceNo)] = r.asDict()

    with runtime.shuffle_partitions(spark, partitions):
        q = sinks.foreach_batch_collector(
            build(stream), collect, output_mode="update",
            checkpoint=str(ckpt), trigger_available_now=True,
        )
    runtime.await_all([q], 120)
    ops = q.lastProgress["stateOperators"]
    assert {op["numShufflePartitions"] for op in ops} == {partitions}
    return rows


def _ordered_batches(n_batches: int = 3, n_keys: int = 48, seed: int = 11):
    """Random invoices over ``n_batches`` batches: a key's lines inside
    a batch arrive in event-time order with distinct times, so the
    arrival head and the event-time head are the same line."""
    rng = random.Random(seed)
    batches = []
    for b in range(n_batches):
        rows = []
        for k in rng.sample(range(n_keys), 2 * n_keys // 3):
            minutes = rng.sample(range(b * 480, (b + 1) * 480), rng.randint(1, 4))
            for m in minutes:
                rows.append(
                    (
                        DAY + timedelta(minutes=m),
                        f"K{k:03d}",
                        rng.randint(1, 12),
                        round(rng.uniform(0.3, 60.0), 2),
                        str(rng.randint(1, 6)),
                    )
                )
        rows.sort(key=lambda r: r[0])
        batches.append(rows)
    return batches


def test_exact_state_matches_python_state(spark, tmp_path):
    """Every emission of every micro-batch equals apply_invoice_state's
    on all fields but LastUpdated (floats within 1e-9, the rest
    exactly), over 3 batches and 2 state partitions."""
    src = _stage(tmp_path / "in", _ordered_batches())
    jvm = _run(spark, src, P.exact_invoice_state, tmp_path / "ckpt_jvm")
    py = _run(spark, src, state.apply_invoice_state, tmp_path / "ckpt_py")

    assert set(jvm) == set(py)
    assert {bid for bid, _ in jvm} == {0, 1, 2}
    assert max(r["Lines"] for r in jvm.values()) == 3
    for key, want in py.items():
        got = jvm[key]
        for f in FLOATS:
            assert math.isclose(got[f], want[f], rel_tol=1e-9, abs_tol=1e-9), (key, f)
        for f in EXACT:
            assert got[f] == want[f], (key, f)
    # LastUpdated is the batch timestamp: one value per batch, rising.
    stamps: dict[int, set] = {}
    for (bid, _), r in jvm.items():
        stamps.setdefault(bid, set()).add(r["LastUpdated"])
    assert all(len(s) == 1 for s in stamps.values())
    per_batch = [stamps[b].pop() for b in sorted(stamps)]
    assert per_batch == sorted(per_batch)


def test_exact_state_schema(spark, tmp_path):
    src = _stage(tmp_path / "in", [[(_at("9:00"), "I1", 1, 1.0, "7")]])
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    got = P.exact_invoice_state(stream).schema
    assert [(f.name, f.dataType) for f in got] == [
        (f.name, f.dataType) for f in INVOICE_STATE_SCHEMA
    ]


def test_exact_state_head_rule(spark, tmp_path):
    """The batch head is the latest batch's earliest-event-time line,
    whatever the arrival order; NULL ``ts`` ranks last and a tie goes
    to the greatest CustomerID."""
    batches = [
        [
            (_at("10:30"), "A", 1, 2.0, "5"),
            (_at("9:15"), "A", 1, 4.0, "3"),  # earliest, arrives second
            (None, "A", 1, 6.0, "9"),
            (_at("8:00"), "B", 2, 1.0, "1"),
            (_at("8:00"), "B", 2, 3.0, "7"),  # tie: greater CustomerID
            (None, "C", 1, 5.0, "2"),
            (None, "C", 1, 5.0, "4"),  # no event time at all
        ],
        [
            (None, "A", 2, 1.0, "1"),
            (_at("11:00"), "A", 2, 9.0, "2"),
        ],
    ]
    src = _stage(tmp_path / "in", batches)
    got = _run(spark, src, P.exact_invoice_state, tmp_path / "ckpt")
    heads = {k: (r["Time"], r["CustomerID"], r["Lines"]) for k, r in got.items()}
    assert heads == {
        (0, "A"): (9.25, "3", 1),
        (0, "B"): (8.0, "7", 1),
        (0, "C"): (0.0, "4", 1),
        (1, "A"): (11.0, "2", 2),
    }
    a = got[(1, "A")]
    assert a["AvgUnitPrice"] == pytest.approx((2 + 4 + 6 + 2 * 1 + 2 * 9) / 7)
    assert (a["MinUnitPrice"], a["MaxUnitPrice"], a["NumberItems"]) == (1.0, 9.0, 7.0)


@pytest.mark.parametrize(
    "build",
    [P.invoice_updates, P.exact_invoice_state, state.apply_invoice_state],
    ids=["invoice_updates", "exact_invoice_state", "apply_invoice_state"],
)
def test_zero_quantity_invoice_has_no_mean(spark, tmp_path, build):
    """A zero-quantity line, or quantities summing to 0, give a NULL
    mean instead of failing the batch; the other invoices still get
    theirs, and the stream goes on to its next batch."""
    batches = [
        [
            (_at("9:00"), "Z0", 0, 3.0, "7"),
            (_at("9:05"), "Z5", 5, 2.0, "7"),
            (_at("9:10"), "Z5", -5, 4.0, "7"),
            (_at("9:15"), "OK", 2, 10.0, "7"),
        ],
        [(_at("10:00"), "NEXT", 4, 2.5, "7")],
    ]
    src = _stage(tmp_path / "in", batches)
    got = _run(spark, src, build, tmp_path / "ckpt", partitions=1)
    avg = {k: r["AvgUnitPrice"] for k, r in got.items()}
    assert avg == {
        (0, "Z0"): None,
        (0, "Z5"): None,
        (0, "OK"): 10.0,
        (1, "NEXT"): 2.5,
    }
    assert got[(0, "Z5")]["NumberItems"] == 0.0


@pytest.mark.parametrize(
    "build",
    [P.invoice_updates, P.exact_invoice_state, state.apply_invoice_state],
    ids=["invoice_updates", "exact_invoice_state", "apply_invoice_state"],
)
def test_mean_recovers_after_quantity_sums_to_zero(spark, tmp_path, build):
    """Quantities summing to 0 leave that batch's mean NULL, but the
    invoice's next batch gets Σ(price·qty)/Σqty over every line again:
    (5·2 - 5·4 + 3·6) / 3."""
    batches = [
        [(_at("9:00"), "R", 5, 2.0, "7"), (_at("9:05"), "R", -5, 4.0, "7")],
        [(_at("10:00"), "R", 3, 6.0, "7")],
    ]
    src = _stage(tmp_path / "in", batches)
    got = _run(spark, src, build, tmp_path / "ckpt", partitions=1)
    assert got[(0, "R")]["AvgUnitPrice"] is None
    assert got[(1, "R")]["AvgUnitPrice"] == pytest.approx(8 / 3)
    assert got[(1, "R")]["NumberItems"] == 3.0
