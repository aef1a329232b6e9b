"""Tests of the benchmark itself: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, job_counter, self_times  # noqa: E402


# -- generator --------------------------------------------------------------


def _write(directory, seed, n_lines=20_000, n_files=5):
    writer = gen.ChunkWriter(str(directory))
    return [writer.write(c) for c in gen.chunks(gen.purchase_lines(seed, n_lines), n_files)]


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = _write(tmp_path / "a", 7)
    b = _write(tmp_path / "b", 7)
    c = _write(tmp_path / "c", 8)
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    for pa, pb in zip(a, b):
        with open(pa, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()
    with open(a[0], "rb") as fa, open(c[0], "rb") as fc:
        assert fa.read() != fc.read()


def test_files_are_renamed_into_place_with_increasing_mtimes(tmp_path):
    paths = _write(tmp_path, 3)
    assert sorted(os.listdir(tmp_path)) == sorted(os.path.basename(p) for p in paths)
    mtimes = [os.stat(p).st_mtime_ns for p in paths]
    assert all(x < y for x, y in zip(mtimes, mtimes[1:]))


def test_realised_shares_are_what_the_workloads_claim():
    lines = gen.purchase_lines(11, 60_000)
    ref = reference.build([t for _, t in lines])
    shares = gen.realised_shares(lines, ref)
    assert 0.02 <= shares["invalid_share"] <= 0.04
    assert 0.01 <= shares["cancellation_share"] <= 0.03
    assert 0.01 <= shares["flagged_share"] <= 0.025
    assert 0.0 < shares["out_of_order_share"] < 0.1
    # Nothing arrives later than the watermark tolerates.
    newest = 0
    for minute, _ in lines:
        assert newest - minute < gen.WATERMARK_S // 60
        newest = max(newest, minute)
    # Both models flag the same outliers, and every prefix of an invoice
    # is on the same side of the threshold as the whole invoice, so the
    # flagged set does not depend on how lines fall into batches.
    assert set(ref.flagged["kmeans"]) == set(ref.flagged["bisecting"])
    seen: dict[str, list[str]] = {}
    for _, line in lines:
        inv = line.split(",")[0]
        if inv in ref.invoices:
            seen.setdefault(inv, []).append(line)
    for inv, inv_lines in list(seen.items())[:3000]:
        for k in range(1, len(inv_lines) + 1):
            prefix = reference.build(inv_lines[:k]).invoices.get(inv)
            if prefix is None:  # only malformed lines so far
                continue
            for model, spec in gen.MODELS.items():
                dist, _ = reference.score(prefix, spec["centers"])
                assert (dist > spec["threshold"]) == (inv in ref.flagged[model])


def test_reference_rules_on_edge_lines():
    ok = "536365,85123A,WHITE HEART,6,12/1/2010 8:26,2.55,17850,United Kingdom"
    assert not reference.is_invalid(ok.split(","))
    for bad in (
        ok.rsplit(",", 1)[0],  # 7 fields
        ok + ",x",  # 9 fields
        ok.replace("17850", ""),
        ok.replace(",6,", ",abc,"),
        ok.replace("2.55", "2.5.5"),
    ):
        assert reference.is_invalid(bad.split(","))
    assert reference.parse_minute("12/1/2010 8:26") * 60 == 1291191960
    ref = reference.build([ok, "C536379,D,Discount,-1,12/1/2010 9:41,27.50,14527,United Kingdom"])
    # One cancellation at 9:41 lies in the eight windows starting 9:34..9:41.
    assert sorted(ref.cancel_windows.values()) == [1] * 8
    assert ref.invoices["536365"]["Time"] == pytest.approx(8 + 26 / 60)


# -- latency and percentiles ------------------------------------------------


def _fake_query(root, name, batches, commit_at, compact_at=None):
    """A checkpoint with a file-source log and a commit log."""
    src = root / name / "sources" / "0"
    commits = root / name / "commits"
    src.mkdir(parents=True)
    commits.mkdir(parents=True)
    for b, files in batches.items():
        entries = [json.dumps({"path": f"file:///in/{f}", "timestamp": 0, "batchId": b}) for f in files]
        (src / str(b)).write_text("v1\n" + "\n".join(entries) + "\n")
    if compact_at is not None:
        entries = [
            json.dumps({"path": f"file:///in/{f}", "timestamp": 0, "batchId": b})
            for b, files in batches.items() if b <= compact_at for f in files
        ]
        (src / f"{compact_at}.compact").write_text("v1\n" + "\n".join(entries) + "\n")
        for b in batches:
            if b < compact_at:
                (src / str(b)).unlink()
    for b, t in commit_at.items():
        p = commits / str(b)
        p.write_text("v1\n{}\n")
        os.utime(p, (t, t))


def test_file_commit_times_take_the_last_query_and_skip_uncommitted(tmp_path):
    _fake_query(tmp_path, "facturas_erroneas", {0: ["a", "b"], 1: ["c"]}, {0: 100.0, 1: 101.0})
    _fake_query(tmp_path, "anomalias_router", {0: ["a"], 1: ["b", "c"], 2: ["d"]},
                {0: 99.0, 1: 103.0}, compact_at=1)
    done = stats.file_commit_times(str(tmp_path))
    assert done == {"a": 100.0, "b": 103.0, "c": 103.0}  # d never committed


def test_line_latencies_drain_and_open_loop():
    done = {"a": 110.0, "b": 112.0}
    due = {"a": 100.0, "b": 100.0, "c": 100.0}
    lines = {"a": 2, "b": 3, "c": 5}
    assert sorted(stats.line_latencies(done, due, lines, None)) == [10, 10, 12, 12, 12]
    # Open loop at 2 lines/s: chunk "a" was due at 100 with its first line
    # due half a second earlier.
    assert stats.line_latencies({"a": 110.0}, {"a": 100.0}, {"a": 2}, 2.0) == [10.5, 10.0]


def test_quantiles_match_numpy_linear_interpolation():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    assert stats.quantile(values, 0.5) == statistics.median(values)
    assert stats.quantile(values, 0.9) == pytest.approx(7.5)
    assert stats.quantile([3.0], 0.9) == 3.0
    assert stats.tail_percentile(20) == 0.5
    assert stats.tail_percentile(100) == 0.9
    assert stats.tail_percentile(9) == 0.0


# -- tracing ----------------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "parent": None, "layer": "plans", "name": "q", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "layer": "sources.tables", "name": "load_table", "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "layer": "ml.train", "name": "train_sweep", "start": 2.0, "end": 6.0},
    ]
    got = self_times(spans)
    assert got["plans"] == pytest.approx(5.0)  # 10 - (1..6)
    assert got["sources.tables"] == pytest.approx(2.0)
    assert got["ml.train"] == pytest.approx(4.0)


def test_wrap_patches_every_import_site(monkeypatch):
    import types

    home = types.ModuleType("pkg.home")
    user = types.ModuleType("pkg.user")

    def load(x):
        return [x, x]

    home.load = load
    user.load = load
    monkeypatch.setitem(sys.modules, "pkg.home", home)
    monkeypatch.setitem(sys.modules, "pkg.user", user)
    tr = Tracer(True)
    assert tr.wrap("pkg", "pkg.home", "load", "layer", tally=len) == 2
    with tr.span("outer", "call"):
        user.load(1)
        home.load(2)
    assert tr.counts == {"layer.load.calls": 2, "layer.load.items": 4}
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert Tracer(False).wrap("pkg", "pkg.home", "load", "layer") == 0


def test_job_counter_sees_jobs_from_a_thread_pool(tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", str(tmp_path))
        .getOrCreate()
    )
    try:
        jobs = job_counter(spark)
        before = jobs()
        with ThreadPoolExecutor(3) as pool:
            assert list(pool.map(lambda n: spark.range(n).rdd.count(), [1, 2, 3])) == [1, 2, 3]
        assert jobs() - before == 3
    finally:
        spark.stop()


# -- BENCHMARK.json ---------------------------------------------------------


def test_names_agree_with_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == run.WORKLOADS
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
