"""E2E tests: the four-branch streaming app (app.run_pipeline) and the
training CLI (ml.cli.train_all) — SURVEY.md §5.3/§5.5."""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql.streaming import DataStreamWriter

from bigdata_invoice_stream_analysis_spark.ml.cli import train_all
from bigdata_invoice_stream_analysis_spark.streaming import runtime
from bigdata_invoice_stream_analysis_spark.streaming.app import (
    ModelSpec,
    PipelineConfig,
    run_pipeline,
    run_pipeline_router,
)
from bigdata_invoice_stream_analysis_spark.streaming.producer import replay_to_dir
from bigdata_invoice_stream_analysis_spark.streaming.runtime import await_all, state_partitions
from bigdata_invoice_stream_analysis_spark.streaming.sources import file_lines_source


def line(inv, qty, date, price, cust="7"):
    return f"{inv},S1,item,{qty},{date},{price},{cust},ES"


LINES = [
    # normal cluster: unit price ~10, qty small, morning
    line("I1", 2, "1/4/2011 9:15", "10.0"),
    line("I1", 1, "1/4/2011 9:20", "11.0"),
    line("I2", 3, "1/4/2011 10:00", "9.5"),
    line("I3", 2, "1/4/2011 10:30", "10.5"),
    # outlier invoice: price 500
    line("I9", 1, "1/4/2011 11:00", "500.0"),
    # cancelled + invalid dirt
    line("C5", 1, "1/4/2011 11:10", "5.0"),
    "too,few,fields",
    # watermark pusher
    line("I4", 1, "1/4/2011 23:59", "10.2"),
]

SINKS = (
    "facturas_erroneas",
    "cancelaciones",
    "anomalias_kmeans",
    "anomalias_bisect_kmeans",
)


def _replay(tmp_path, name: str, chunk: int, lines=LINES):
    """``lines`` replayed as chunk-line files into ``tmp_path / name``."""
    raw = tmp_path / "raw.csv"
    raw.write_text("\n".join(lines) + "\n")
    replay_to_dir(str(raw), str(tmp_path / name), chunk=chunk)
    return tmp_path / name


def _config(out_dir: str, **kw) -> PipelineConfig:
    """The two-model parquet configuration the topology tests share."""
    center = [10.0, 9.5, 11.0, 10.0, 3.0]
    return PipelineConfig(
        **{
            "sink_mode": "parquet",
            "out_dir": out_dir,
            "time_mode": "event",
            "watermark": "1 minute",
            "available_now": True,
            "models": {
                "kmeans": ModelSpec(centers=[center], threshold=1000.0),
                "bisecting": ModelSpec(centers=[center], threshold=1000.0),
            },
            "feature_cols": [
                "AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time",
                "NumberItems",
            ],
            **kw,
        }
    )




def _sink_rows(spark, out_dir: str, sink: str):
    """A sink's columns and sorted rows, without the replay-bookkeeping
    batch_id (batch numbering differs between topologies and across
    restarts) and without legacy_state's LastUpdated (the batch
    timestamp, which differs between any two runs)."""
    df = spark.read.parquet(f"{out_dir}/{sink}").drop("batch_id", "LastUpdated")
    cols = sorted(df.columns)
    return cols, sorted(map(tuple, df.select(*cols).collect()))


def _state_partition_counts(queries) -> list[set[int]]:
    """Per stateful query, the state-partition counts its last
    micro-batch reported (stateless queries report no operators)."""
    counts = []
    for q in queries:
        ops = q.lastProgress["stateOperators"]
        if ops:
            counts.append({op["numShufflePartitions"] for op in ops})
    return counts


def test_run_pipeline_parquet_sinks(spark, tmp_path):
    src = _replay(tmp_path, "in", chunk=4)

    out = str(tmp_path / "out")
    cfg = _config(out)
    lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
    queries = run_pipeline(lines, cfg)
    assert len(queries) == 4
    await_all(queries, 120)

    invalid = spark.read.parquet(f"{out}/facturas_erroneas")
    assert [r.value for r in invalid.collect()] == ["too,few,fields"]

    cancels = spark.read.parquet(f"{out}/cancelaciones")
    crows = cancels.collect()
    assert len(crows) == 8  # C5 covered by 8 sliding windows, all closed
    assert all(r.n_cancelled == 1 for r in crows)

    km = spark.read.parquet(f"{out}/anomalias_kmeans")
    anomalous = {r.InvoiceNo for r in km.collect()}
    assert "I9" in anomalous  # price-500 outlier flagged
    assert "I2" not in anomalous
    bi = spark.read.parquet(f"{out}/anomalias_bisect_kmeans")
    assert "I9" in {r.InvoiceNo for r in bi.collect()}


def test_run_pipeline_router_matches_four_query_topology(spark, tmp_path):
    """run_pipeline_router collapses the two anomaly sinks into ONE
    foreachBatch-router query (3 queries total) and must produce
    row-identical sink contents to run_pipeline's 4-query topology."""
    src = _replay(tmp_path, "in", chunk=4)
    lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
    out_a = str(tmp_path / "out_four")
    qa = run_pipeline(lines, _config(out_a))
    assert len(qa) == 4
    out_b = str(tmp_path / "out_router")
    qb = run_pipeline_router(lines, _config(out_b))
    assert len(qb) == 3  # invalid + cancellations + ONE anomaly router
    await_all((*qa, *qb), 120)

    for sink in SINKS:
        assert _sink_rows(spark, out_a, sink) == _sink_rows(
            spark, out_b, sink
        ), f"{sink}: topologies disagree"
    # the router landed the outlier in both model sinks
    km = spark.read.parquet(f"{out_b}/anomalias_kmeans")
    assert "I9" in {r.InvoiceNo for r in km.collect()}

    # unsupported sink modes fail at WIRING time (no half-started
    # topology failing asynchronously on batch 0)
    with pytest.raises(ValueError, match="idempotent batch sink"):
        run_pipeline_router(
            lines, _config(str(tmp_path / "out_bad"), sink_mode="memory")
        )
    assert not (tmp_path / "out_bad" / "anomalias_kmeans").exists()


@pytest.mark.parametrize("legacy_state", [False, True])
def test_run_pipeline_sizes_state_partitions_per_query(
    spark, tmp_path, monkeypatch, legacy_state
):
    """Each stateful query starts with the streaming.runtime rule for a
    four-query topology, and the caller's session keeps its own
    shuffle-partition count. The rule sees 32 cores, where JVM and
    Python state would get different counts: every query, the exact
    legacy_state one included, holds JVM state and gets the JVM count."""
    monkeypatch.delenv("SPARK_GRAFT_DRAIN_STATE_PARTITIONS", raising=False)
    monkeypatch.setattr(
        type(spark.sparkContext), "defaultParallelism", property(lambda sc: 32)
    )
    src = _replay(tmp_path, "in", chunk=4)
    lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
    queries = run_pipeline(
        lines, _config(str(tmp_path / "out"), legacy_state=legacy_state)
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    await_all(queries, 120)

    jvm = state_partitions(spark, concurrent=4)
    assert (jvm, state_partitions(spark, python_state=True, concurrent=4)) == (2, 8)
    # invalid lines are stateless; cancellations, then one query per model
    assert _state_partition_counts(queries) == [{jvm}] * 3
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


@pytest.mark.parametrize("legacy_state", [False, True])
def test_zero_quantity_invoice_does_not_stop_scoring(
    spark, tmp_path, legacy_state
):
    """An invoice without a mean — a zero-quantity line, or quantities
    summing to 0 — is not flagged, and the stream keeps running and
    flagging the other invoices."""
    zero = [
        line("Z0", 0, "1/4/2011 9:30", "10.0"),
        line("Z5", 5, "1/4/2011 9:40", "9.0"),
        line("Z5", -5, "1/4/2011 9:41", "11.0"),
    ]
    src = _replay(tmp_path, "in", chunk=6, lines=zero + LINES)
    out = str(tmp_path / "out")
    lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
    await_all(run_pipeline(lines, _config(out, legacy_state=legacy_state)), 120)
    for sink in ("anomalias_kmeans", "anomalias_bisect_kmeans"):
        flagged = {r.InvoiceNo for r in spark.read.parquet(f"{out}/{sink}").collect()}
        assert "I9" in flagged
        assert not flagged & {"Z0", "Z5"}


def test_wiring_failure_restores_conf_and_stops_started_queries(
    spark, tmp_path, monkeypatch
):
    """A wiring error after some queries started leaves no active
    stream behind and the session's shuffle-partition count as it was,
    for a failure inside the sized block of either topology. The
    queries run on an unbounded trigger, so only the cleanup stops
    them."""
    from bigdata_invoice_stream_analysis_spark.streaming import app

    src = tmp_path / "in"
    src.mkdir()
    lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
    before = {q.id for q in spark.streams.active}

    # The router refuses a non-idempotent sink after the invalid and
    # cancellation queries are already running.
    with pytest.raises(ValueError, match="idempotent batch sink"):
        app.run_pipeline_router(
            lines,
            _config(
                str(tmp_path / "router"), sink_mode="memory",
                available_now=False,
            ),
        )
    assert {q.id for q in spark.streams.active} == before
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"

    # The last of run_pipeline's four starts fails.
    real_start, started = app._start, []

    def failing_start(df, name, cfg, output_mode):
        if name == app.TOPIC_ANOMALIES_BISECT:
            raise RuntimeError("sink unavailable")
        q = real_start(df, name, cfg, output_mode)
        started.append(q)
        return q

    monkeypatch.setattr(app, "_start", failing_start)
    with pytest.raises(RuntimeError, match="sink unavailable"):
        app.run_pipeline(
            lines, _config(str(tmp_path / "four"), available_now=False)
        )
    assert len(started) == 3
    assert not any(q.isActive for q in started)
    assert {q.id for q in spark.streams.active} == before
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def _feed(staged, src, names) -> None:
    """Move staged replay files into the watched dir; a rename keeps the
    replay's increasing mtimes."""
    src.mkdir(exist_ok=True)
    for n in names:
        os.rename(staged / n, src / n)


def test_restart_keeps_checkpointed_state_partitions(
    spark, tmp_path, monkeypatch
):
    """A checkpoint keeps the state-partition count it was started
    with: half the input drained under an override of 3 partitions,
    then the rest resumed from the same checkpoint without it, reports
    3 partitions and leaves all four sinks equal to one clean run."""
    staged, src = _replay(tmp_path, "staged", chunk=2), tmp_path / "in"
    files = sorted(os.listdir(staged))
    assert len(files) == 4

    def run(out_dir: str):
        lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
        queries = run_pipeline(lines, _config(out_dir))
        await_all(queries, 120)
        return queries

    resumed_out = str(tmp_path / "resumed")
    _feed(staged, src, files[:2])
    monkeypatch.setenv("SPARK_GRAFT_DRAIN_STATE_PARTITIONS", "3")
    assert _state_partition_counts(run(resumed_out)) == [{3}] * 3
    monkeypatch.delenv("SPARK_GRAFT_DRAIN_STATE_PARTITIONS")
    _feed(staged, src, files[2:])
    assert state_partitions(spark, concurrent=4) != 3
    assert _state_partition_counts(run(resumed_out)) == [{3}] * 3

    clean_out = str(tmp_path / "clean")
    run(clean_out)
    for sink in SINKS:
        assert _sink_rows(spark, resumed_out, sink) == _sink_rows(
            spark, clean_out, sink
        ), f"{sink}: the resumed run differs from a clean run"


def test_legacy_state_restart_equals_clean_run(spark, tmp_path):
    """legacy_state keeps the exact state in the checkpoint: half the
    input drained, the rest resumed from the same checkpoint, leaves
    all four sinks equal to one clean run — Lines and the batch-head
    Time included — for an outlier whose lines straddle the restart."""
    straddle = [
        line("I1", 2, "1/4/2011 9:15", "10.0"),
        line("I9", 1, "1/4/2011 10:50", "480.0"),  # before the restart
        *LINES[1:],  # I9's 500.0 line lands after it
    ]
    staged = _replay(tmp_path, "staged", chunk=3, lines=straddle)
    src = tmp_path / "in"
    files = sorted(os.listdir(staged))
    assert len(files) == 3

    def run(out_dir: str) -> None:
        lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
        await_all(run_pipeline(lines, _config(out_dir, legacy_state=True)), 120)

    resumed_out, clean_out = str(tmp_path / "resumed"), str(tmp_path / "clean")
    _feed(staged, src, files[:1])
    run(resumed_out)
    _feed(staged, src, files[1:])
    run(resumed_out)
    run(clean_out)
    for sink in SINKS:
        assert _sink_rows(spark, resumed_out, sink) == _sink_rows(
            spark, clean_out, sink
        ), f"{sink}: the resumed run differs from a clean run"
    km = spark.read.parquet(f"{resumed_out}/anomalias_kmeans")
    last = max((r for r in km.collect() if r.InvoiceNo == "I9"), key=lambda r: r.batch_id)
    assert (last.Lines, last.Time) == (2, 11.0)


FS_MANAGER = runtime.FILE_SYSTEM_CHECKPOINT_MANAGER.rsplit(".", 1)[1]
CONTEXT_MANAGER = "FileContextBasedCheckpointFileManager"


def _checkpoint_managers(queries) -> set[tuple[str, str, str]]:
    """The (offset log, commit log, file-source log) checkpoint file
    manager class names of a set of started queries. The source keeps
    its log in a private field, read here by reflection."""
    out = set()
    for q in queries:
        sq = q._jsq.streamingQuery()
        field = sq.sources().head().getClass().getDeclaredField("metadataLog")
        field.setAccessible(True)
        out.add(tuple(
            log.fileManager().getClass().getSimpleName()
            for log in (sq.offsetLog(), sq.commitLog(), field.get(sq.sources().head()))
        ))
    return out


@pytest.mark.parametrize("wire", [run_pipeline, run_pipeline_router])
@pytest.mark.parametrize(
    "caller",
    [None, f"org.apache.spark.sql.execution.streaming.checkpointing.{CONTEXT_MANAGER}"],
    ids=["unset", "caller_set"],
)
def test_local_root_checkpoints_through_file_system_manager(
    spark, tmp_path, wire, caller
):
    """On a local out_dir every query of either topology keeps its
    offset and commit logs through the FileSystem-API manager, and the
    caller's checkpoint-manager conf is as it was after wiring: unset,
    or the value the caller set."""
    key = runtime.CHECKPOINT_FILE_MANAGER
    assert spark.conf.get(key, None) is None
    if caller:
        spark.conf.set(key, caller)
    try:
        src = _replay(tmp_path, "in", chunk=4)
        lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
        queries = wire(lines, _config(str(tmp_path / "out")))
        assert spark.conf.get(key, None) == caller
        await_all(queries, 120)
        assert _checkpoint_managers(queries) == {(FS_MANAGER,) * 3}
    finally:
        spark.conf.unset(key)


def test_non_local_root_keeps_default_manager(spark, tmp_path, monkeypatch):
    """Only a root Hadoop resolves to the local filesystem switches the
    manager. A scheme-less path resolves against fs.defaultFS, so under
    a non-local default it is not local (an FTP default, which Hadoop
    resolves without connecting); and a root resolved elsewhere (the
    resolution stubbed, as no HDFS is reachable here) starts its
    queries under Spark's default manager with the conf left unset."""
    key = runtime.CHECKPOINT_FILE_MANAGER
    assert runtime.checkpoint_scheme(spark, "relative/out") == "file"
    spark.conf.set("fs.defaultFS", "ftp://localhost:1/")
    try:
        assert runtime.checkpoint_scheme(spark, "/data/out") == "ftp"
        with runtime.local_checkpoints(spark, "/data/out"):
            assert spark.conf.get(key, None) is None
        with runtime.local_checkpoints(spark, f"file://{tmp_path}"):
            assert spark.conf.get(key) == runtime.FILE_SYSTEM_CHECKPOINT_MANAGER
    finally:
        spark.conf.unset("fs.defaultFS")
    assert spark.conf.get(key, None) is None

    monkeypatch.setattr(runtime, "checkpoint_scheme", lambda spark, root: "hdfs")
    src = _replay(tmp_path, "in", chunk=4)
    lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
    queries = run_pipeline(lines, _config(str(tmp_path / "out")))
    assert spark.conf.get(key, None) is None
    await_all(queries, 120)
    assert _checkpoint_managers(queries) == {(CONTEXT_MANAGER,) * 3}


def test_default_manager_checkpoint_resumes(spark, tmp_path, monkeypatch):
    """A checkpoint written under Spark's default manager resumes under
    the FileSystem-API one: half the input drained with the switch
    stubbed out, the rest through run_pipeline, leaves all four sinks
    equal to one clean run."""
    staged, src = _replay(tmp_path, "staged", chunk=2), tmp_path / "in"
    files = sorted(os.listdir(staged))

    def run(out_dir: str):
        lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
        queries = run_pipeline(lines, _config(out_dir))
        await_all(queries, 120)
        return _checkpoint_managers(queries)

    resumed_out = str(tmp_path / "resumed")
    _feed(staged, src, files[:2])
    with monkeypatch.context() as m:
        m.setattr(
            runtime, "local_checkpoints",
            lambda spark, root: contextlib.nullcontext(),
        )
        assert run(resumed_out) == {(CONTEXT_MANAGER,) * 3}
    _feed(staged, src, files[2:])
    assert run(resumed_out) == {(FS_MANAGER,) * 3}

    clean_out = str(tmp_path / "clean")
    run(clean_out)
    for sink in SINKS:
        assert _sink_rows(spark, resumed_out, sink) == _sink_rows(
            spark, clean_out, sink
        ), f"{sink}: the resumed run differs from a clean run"


@pytest.mark.parametrize("available_now", [True, False])
def test_kafka_mode_honours_available_now(
    spark, tmp_path, monkeypatch, available_now
):
    """Kafka mode starts every query of both topologies on the
    availableNow trigger when the config asks for it, and on the
    reference's 20 s processing-time trigger otherwise (the per-model
    queries through sinks.kafka_sink, the router through foreachBatch,
    which has no interval). The Kafka connector is not installed, so
    this reaches writer assembly only: DataStreamWriter.start is
    stubbed and records the trigger each writer was given."""
    triggers: list[dict] = []
    monkeypatch.setattr(
        DataStreamWriter, "trigger",
        lambda self, **kw: (triggers.append(kw), self)[1],
    )
    monkeypatch.setattr(DataStreamWriter, "start", lambda self, *a, **kw: self)
    src = tmp_path / "in"
    src.mkdir()
    lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
    cfg = _config(
        str(tmp_path / "out"), sink_mode="kafka", brokers="broker:9092",
        available_now=available_now,
    )
    assert len(run_pipeline(lines, cfg)) == 4
    assert len(run_pipeline_router(lines, cfg)) == 3
    if available_now:
        assert triggers == [{"availableNow": True}] * 7
    else:
        assert triggers == [{"processingTime": "20 seconds"}] * 6


def test_train_all_cli(spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(11)
    rows = ["InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country"]
    # two planted price clusters (~10 and ~200), 40 invoices x 2 lines
    for i in range(40):
        base = 10.0 if i % 2 == 0 else 200.0
        for j in range(2):
            price = round(base + rng.uniform(-1, 1), 2)
            rows.append(
                f"N{i},S1,item,{1 + j},1/4/2011 {9 + i % 8}:{10 + j},{price},42,ES"
            )
    csv = tmp_path / "training.csv"
    csv.write_text("\n".join(rows) + "\n")

    out = str(tmp_path / "models")
    res = train_all(spark, str(csv), out, kmax=4, seed=42)
    assert set(res) == {"kmeans", "bisecting"}
    for algo, info in res.items():
        assert 2 <= info["k"] <= 4
        assert info["threshold"] >= 0
        assert os.path.isdir(info["model_path"])
        assert os.path.isfile(info["threshold_path"])

    # Round-trip: reload model + threshold and score the training set —
    # with the planted two-cluster structure and threshold = max-ish
    # distance, nothing in-training should be anomalous by a wide margin.
    from bigdata_invoice_stream_analysis_spark.ml import anomaly as A
    from bigdata_invoice_stream_analysis_spark.ml.train import assemble_features
    from bigdata_invoice_stream_analysis_spark.operators.featurize import invoice_features
    from bigdata_invoice_stream_analysis_spark.operators.validate import coerce_purchase_types
    from bigdata_invoice_stream_analysis_spark.sources.tables import read_purchases_csv

    model = A.load_model(res["kmeans"]["model_path"], "kmeans")
    thr = A.load_threshold(res["kmeans"]["threshold_path"])
    assert thr == pytest.approx(res["kmeans"]["threshold"])
    feats = invoice_features(coerce_purchase_types(read_purchases_csv(spark, str(csv))))
    scored = A.score(assemble_features(feats), model)
    # n < 2000, so the top-2000 rule degrades to the overall MIN training
    # distance (train.scala:45-46 top(2000).last does the same): nothing
    # scores below it, (n - #min) rows score above.
    from pyspark.sql import functions as F

    assert scored.filter(scored.dist < thr).count() == 0
    assert scored.agg(F.min("dist")).first()[0] == pytest.approx(thr)
