#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The benchmark generates its inputs from
the seed (gen.py), runs the workload in a fresh interpreter (child.py),
checks every output against a reference computed from the inputs alone
(reference.py, and DuckDB for the registry) and prints, as the last line
of standard output, ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the workload runs twice, untraced and
then traced, and the metrics are the per-layer ones, including the
tracing overhead. The line before it is a JSON detail record: the
workload's realised input properties, sample counts and the seat.

Everything the run writes lives under ``.perfbench/`` in the checkout;
the run's own directory (inputs, checkpoints, sinks, SPARK_LOCAL_DIRS,
temp) is removed at exit, and traces are kept in ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference  # noqa: E402
import stats  # noqa: E402
from spans import layer_totals, self_times  # noqa: E402

PKG = "bigdata_invoice_stream_analysis_spark"
RUN_LIMIT_S = 170.0

# Why each workload exists is recorded in BENCHMARK.json. A drain's input
# is sized from --seconds (lines per second on a 4-core seat), so that
# every run of a workload does the same work and takes about that long.
STREAM_DRAIN = {"lines_per_s": 20_000, "files": 8, "files_per_trigger": 2}
STREAM_EXACT_STATE = {"lines_per_s": 1_000, "files": 6, "files_per_trigger": 1}
OPEN_LOOP = {"rate": 10_000, "chunk_s": 0.5, "warmup_s": 2.0}

# A fixed slice of the registry, run once in this order after the
# warm-up queries: nineteen queries not in DRAIN_GATES that each took under
# a second at sf0.01 in a warm full sweep on a 4-core seat, spread over
# the registry's modules, plus the three ML rows that fit through
# ml.train.train_sweep (kmeans_anomalies, bisecting_anomalies,
# kmeans_elbow_sweep). All 204 such queries take ~180 s, more than a run
# may. The order is fixed rather than shuffled by the seed: a query's time
# depends on what ran before it in the same JVM, and a shuffled order
# spread the median latency by a third across seeds.
#
# The warm-up queries (not in the slice) run first, untimed, so that the
# JVM's first jobs are not charged to the first query of the slice: each
# slice query then runs as it would in the full sweep, once, in a warm
# JVM. The three ML fits are the slowest ~10% of the slice, so
# latency_p90_s reads an ML fit (train_sweep) rather than whichever cheap
# query happened to run slowest, which spread it by a quarter across runs.
REGISTRY_WARMUP = ["pricing_summary", "shipping_priority"]
REGISTRY_QUERIES = [
    "approx_distinct_users", "bisecting_anomalies", "brand_band_revenue",
    "customer_balance_quartiles", "daily_to_monthly_rollup", "forecast_revenue_change",
    "hourly_event_stats", "kmeans_anomalies", "kmeans_elbow_sweep",
    "local_supplier_volume", "nation_revenue", "order_status_cube", "orders_profile",
    "part_supplier_variety", "priority_distinct_reach", "salted_event_totals",
    "segment_order_gap", "small_qty_revenue", "status_priority_pivot", "top_suppliers",
    "unordered_parts", "weighted_invoice_features",
]

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}
QUERIES = ["invalid", "cancellations", "kmeans", "bisecting", "router"]
SINKS = ["facturas_erroneas", "cancelaciones", "anomalias_kmeans", "anomalias_bisect_kmeans"]
LAYERS = [
    "session", "streaming.sources", "streaming.pipeline", "streaming.sinks",
    "streaming.app", "plans", "sources.tables", "ml.train",
]
PER_LAYER = (
    {"session.get_spark_s": "s", "app.wiring_s": "s",
     "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms"}
    | {f"pipeline.query_planning_ms.{q}": "ms" for q in QUERIES}
    | {"app.wal_commit_ms": "ms", "app.commit_offsets_ms": "ms"}
    | {f"app.batches.{q}": "count" for q in QUERIES}
    | {f"app.add_batch_ms.{q}": "ms" for q in QUERIES}
    | {"state.commit_ms": "ms", "state.rows_total": "count", "state.memory_bytes": "bytes",
       "state.rows_dropped_late": "count", "state.python_ms_per_key": "ms"}
    | {f"sinks.rows.{s}": "count" for s in SINKS}
    | {"scoring.flagged_ratio": "ratio",
       "plans.builder_s": "s", "plans.builder_jobs": "count", "plans.plan_s": "s",
       "plans.exec_s": "s", "plans.exec_jobs": "count",
       "tables.load_table_calls": "count", "tables.load_table_s": "s",
       "train.sweep_s": "s", "train.fits": "count",
       "seat.cpu_busy_ratio": "ratio", "generator.lag_max_s": "s",
       "trace.overhead_ratio": "ratio"}
    | {f"self_s.{layer}": "s" for layer in LAYERS}
)
# The workloads BENCHMARK.json lists. stream_open_loop runs only by hand:
# it needs a prewarmed JVM to be steady (~43 s a run on a 4-core seat),
# which the benchmark's time budget for every listed workload leaves no
# room for.
WORKLOADS = ["stream_drain", "stream_exact_state", "registry_sweep"]
BY_HAND = ["stream_open_loop"]


class RunFailed(Exception):
    """The workload could not be run at all; no result is printed."""


# --------------------------------------------------------------------------
# Inputs


def prepare(workload: str, seed: int, seconds: int, run_dir: str) -> tuple[dict, dict]:
    """Generate the workload's inputs; return (child spec, checker state)."""
    spec = {"workload": workload, "seed": seed, "seconds": seconds, "root": ROOT, "trace": 0}
    state: dict = {}
    if workload in ("stream_drain", "stream_exact_state"):
        size = STREAM_DRAIN if workload == "stream_drain" else STREAM_EXACT_STATE
        lines = gen.purchase_lines(seed, size["lines_per_s"] * seconds)
        writer = gen.ChunkWriter(os.path.join(run_dir, "in"))
        chunks = gen.chunks(lines, size["files"])
        files = [os.path.basename(writer.write(c)) for c in chunks]
        spec.update(input_dir=writer.directory, files_per_trigger=size["files_per_trigger"])
        state["lines"] = lines
        state["file_lines"] = {f: len(c) for f, c in zip(files, chunks)}
    elif workload == "stream_open_loop":
        per_chunk = int(OPEN_LOOP["rate"] * OPEN_LOOP["chunk_s"])
        n_chunks = int((OPEN_LOOP["warmup_s"] + seconds) / OPEN_LOOP["chunk_s"])
        lines = gen.purchase_lines(seed, per_chunk * n_chunks)[: per_chunk * n_chunks]
        state["lines"] = lines
        state["chunks"] = gen.chunks(lines, n_chunks)
        state["measured_from"] = int(OPEN_LOOP["warmup_s"] / OPEN_LOOP["chunk_s"])
        # A short backlog the router drains before the open loop starts,
        # so the measured window does not start with a cold JVM's backlog.
        warm = gen.ChunkWriter(os.path.join(run_dir, "warmup-in"))
        for c in gen.chunks(gen.purchase_lines(seed + 1, OPEN_LOOP["rate"] * 2), 4):
            warm.write(c)
        spec.update(input_dir=os.path.join(run_dir, "in"), warmup_dir=warm.directory,
                    warmup_s=OPEN_LOOP["warmup_s"])
        os.makedirs(spec["input_dir"])
    else:
        tables = os.path.join(run_dir, "tables")
        gen.write_tables(seed, tables)
        spec.update(tables_dir=tables, queries=REGISTRY_QUERIES, warmup_queries=REGISTRY_WARMUP)
        state["tables"] = tables
    if "lines" in state:
        ref = reference.build([t for _, t in state["lines"]])
        state["ref"] = ref
        state["shares"] = gen.realised_shares(state["lines"], ref)
        wm = ref.max_minute - gen.WATERMARK_S // 60
        spec["final_watermark"] = time.strftime("%Y-%m-%dT%H:%M:%S.000Z", time.gmtime(wm * 60))
    return spec, state


# --------------------------------------------------------------------------
# The child process and the open-loop generator


def _generate(run_dir: str, chunks: list[list[str]], child: subprocess.Popen, log: dict) -> None:
    """Open loop: after the child signals ready, write one chunk every
    chunk_s, on a schedule that does not wait for the system."""
    ready = os.path.join(run_dir, "ready")
    while not os.path.exists(ready):
        if child.poll() is not None:
            return
        time.sleep(0.02)
    writer = gen.ChunkWriter(os.path.join(run_dir, "in"))
    step = OPEN_LOOP["chunk_s"]
    t0_mono, t0_wall = time.monotonic(), time.time()
    due, lag, names = {}, [], []
    for k, chunk in enumerate(chunks):
        if child.poll() is not None:
            return
        wait = t0_mono + (k + 1) * step - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        lag.append(max(0.0, time.monotonic() - (t0_mono + (k + 1) * step)))
        name = os.path.basename(writer.write(chunk))
        due[name] = t0_wall + (k + 1) * step
        names.append(name)
    log.update(due=due, lag=lag, names=names)
    with open(os.path.join(run_dir, "done.tmp"), "w", encoding="utf-8") as f:
        json.dump({"files": names}, f)
    os.rename(os.path.join(run_dir, "done.tmp"), os.path.join(run_dir, "done"))


def _reap_group(pgid: int) -> None:
    """Wait until the JVM and Python workers the child started (they share
    its process group) have ended; kill them if they linger."""
    for sig, wait_s in ((None, 10.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def run_child(spec: dict, state: dict, run_dir: str, deadline: float) -> tuple[dict, dict]:
    """Run the workload once in a fresh interpreter; return its result
    and the generator log (open loop only)."""
    for name in ("ready", "done", "result.json", "spans.json"):
        if os.path.exists(os.path.join(run_dir, name)):
            os.remove(os.path.join(run_dir, name))
    for name in os.listdir(run_dir):
        if name.startswith("out-") or name == "warmup-out":
            shutil.rmtree(os.path.join(run_dir, name))
    if spec["workload"] == "stream_open_loop":
        shutil.rmtree(spec["input_dir"], ignore_errors=True)
        os.makedirs(spec["input_dir"])
    spec = dict(spec, run_dir=run_dir)
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w", encoding="utf-8") as f:
        json.dump(spec, f)
    env = dict(os.environ)
    env.update(
        # Python workers import the package (applyInPandasWithState, UDFs).
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_DRIVER_MEMORY="3g",
    )
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
        os.makedirs(os.path.join(run_dir, d))
    log_path = os.path.join(run_dir, "child.log")
    with open(log_path, "ab") as log:
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path],
            cwd=ROOT, env=env, stdout=log, stderr=log, start_new_session=True,
        )
        gen_log: dict = {}
        gen_thread = None
        if spec["workload"] == "stream_open_loop":
            gen_thread = threading.Thread(target=_generate, args=(run_dir, state["chunks"], child, gen_log))
            gen_thread.start()
        try:
            child.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:  # timeout, or run.py itself interrupted
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            if not isinstance(sys.exc_info()[1], subprocess.TimeoutExpired):
                raise
        finally:
            _reap_group(child.pid)
            if gen_thread is not None:
                gen_thread.join()
    result_path = os.path.join(run_dir, "result.json")
    if not os.path.exists(result_path):
        with open(log_path, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-2000:]
        raise RunFailed(f"{spec['workload']}: child left no result (exit {child.returncode})\n{tail}")
    with open(result_path, encoding="utf-8") as f:
        result = json.load(f)
    spans_path = os.path.join(run_dir, "spans.json")
    if os.path.exists(spans_path):
        with open(spans_path, encoding="utf-8") as f:
            result["trace"] = json.load(f)
    return result, gen_log


# --------------------------------------------------------------------------
# Output checks


def _read(path: str, columns: list[str] | None = None):
    import pyarrow.parquet as pq

    if not os.path.isdir(path) or not any(
        not n.startswith((".", "_")) for n in os.listdir(path)
    ):
        return None
    return pq.read_table(path, columns=columns)


def read_sinks(out: str) -> dict:
    """The four sinks of one run, as plain Python values."""
    import pyarrow as pa

    sinks: dict = {"rows": {}}
    t = _read(os.path.join(out, "facturas_erroneas"), ["value"])
    sinks["invalid"] = [] if t is None else t.column("value").to_pylist()
    t = _read(os.path.join(out, "cancelaciones"))
    rows = []
    if t is not None:
        # Spark may write INT96 (read as ns) or INT64 micros timestamps.
        start, end = (
            t.column(c).cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
            for c in ("window_start", "window_end")
        )
        n = t.column("n_cancelled").to_pylist()
        rows = [(s // 60_000_000, e // 60_000_000, k) for s, e, k in zip(start, end, n)]
    sinks["cancellations"] = rows
    sinks["rows"] = {"facturas_erroneas": len(sinks["invalid"]), "cancelaciones": len(rows)}
    for model, sink in (("kmeans", "anomalias_kmeans"), ("bisecting", "anomalias_bisect_kmeans")):
        t = _read(os.path.join(out, sink))
        last: dict[str, dict] = {}
        n = 0
        if t is not None:
            for row in t.to_pylist():
                n += 1
                prev = last.get(row["InvoiceNo"])
                if prev is None or row["batch_id"] > prev["batch_id"]:
                    last[row["InvoiceNo"]] = row
        sinks[model] = last
        sinks["rows"][sink] = n
    return sinks


def check_stream(state: dict, out: str, exact_state: bool) -> tuple[list[str], dict]:
    ref = state["ref"]
    sinks = read_sinks(out)
    wm = ref.max_minute - gen.WATERMARK_S // 60
    errors = reference.check_invalid(ref, sinks["invalid"])
    errors += reference.check_cancellations(ref, sinks["cancellations"], wm)
    for model in gen.MODELS:
        errors += reference.check_anomalies(ref, model, sinks[model], exact_state)
    return errors, sinks


def duckdb_counts(tables: str, queries: list[dict]) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over the generated tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in ("region", "nation", "customer", "supplier", "part", "orders",
                     "lineitem", "events", "documents", "embeddings"):
            path = os.path.join(tables, f"{name}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in queries:
            if q.get("oracle") and q["name"] not in out:
                out[q["name"]] = con.execute(f"SELECT count(*) FROM ({q['oracle']})").fetchone()[0]
        return out
    finally:
        con.close()


# --------------------------------------------------------------------------
# Metrics


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def evaluate(workload: str, state: dict, res: dict, gen_log: dict) -> dict:
    """End-to-end figures, attempted/failed counts and detail of one run."""
    if res["errors"]:
        raise RunFailed(f"{workload}: " + "; ".join(res["errors"]))
    ev: dict = {"errors": [], "detail": {}}
    setup = res["import_s"] + res["get_spark_s"] + res.get("setup_wiring_s", 0.0)
    if workload == "registry_sweep":
        runs = res["queries"]
        checked = res["warmup"] + runs
        oracle = duckdb_counts(state["tables"], checked)
        failed = 0
        for r in checked:
            if r.get("error") or (r["name"] in oracle and oracle[r["name"]] != r["rows"]):
                failed += 1
                ev["errors"].append(f"{r['name']}: {r.get('error') or 'row count differs from oracle'}")
        lat = [r["builder_s"] + r["plan_s"] + r["exec_s"] for r in runs if not r.get("error")]
        ev.update(attempted=len(checked), failed=failed, setup_s=setup,
                  throughput_per_s=len(lat) / sum(lat),
                  latency_p50_s=stats.quantile(lat, 0.5), latency_p90_s=stats.quantile(lat, 0.9))
        ev["detail"] = {"query_runs": len(runs), "warmup_queries": len(res["warmup"]),
                        "registry_total_s": sum(lat),
                        "oracle_checked": len([r for r in checked if r["name"] in oracle]),
                        "latency_samples": len(lat),
                        "tail_percentile_supported": stats.tail_percentile(len(lat))}
        return ev

    done = stats.file_commit_times(os.path.join(res["out"], "_checkpoints"))
    if workload == "stream_open_loop":
        first = state["measured_from"]
        names = gen_log["names"][first:]
        due = {n: gen_log["due"][n] for n in names}
        lines = {n: len(state["chunks"][first + k]) for k, n in enumerate(names)}
        rate = OPEN_LOOP["rate"]
        lead = names[:1]
    else:
        due = {f: res["start"] for f in state["file_lines"]}
        lines = state["file_lines"]
        rate = None  # the whole input is due when the drain starts
        lead = []
    # Throughput counts lines committed after the lead chunks were (open
    # loop: the first measured chunk) or after the drain started.
    t_from = max((done.get(f, 0.0) for f in lead), default=res.get("start", 0.0))
    counted = [f for f in due if done.get(f, 0.0) > t_from]
    t_to = max((done[f] for f in counted), default=t_from)
    latencies = stats.line_latencies(done, due, lines, rate)
    committed = [f for f in due if f in done]
    late = (
        [f for f in committed if done[f] - due[f] > stats.COMMIT_DEADLINE_S]
        if workload == "stream_open_loop" else []
    )
    errors, sinks = check_stream(state, res["out"], workload == "stream_exact_state")
    ev["errors"] += errors
    ev.update(
        attempted=len(due),
        failed=len(due) if errors else len(due) - len(committed) + len(late),
        setup_s=setup,
        throughput_per_s=sum(lines[f] for f in counted) / (t_to - t_from) if t_to > t_from else 0.0,
        latency_p50_s=stats.quantile(latencies, 0.5) if latencies else 0.0,
        latency_p90_s=stats.quantile(latencies, 0.9) if latencies else 0.0,
        sinks_rows=sinks["rows"],
        flagged_ratio=len(sinks["kmeans"]) / max(1, state["ref"].n_purchase_invoices),
    )
    ev["detail"] = {"input": state["shares"], "chunks_measured": len(committed),
                    "latency_samples": len(latencies),
                    "tail_percentile_supported": stats.tail_percentile(len(latencies))}
    if gen_log:
        ev["detail"]["generator_lag_max_s"] = max(gen_log["lag"][state["measured_from"]:], default=0.0)
    return ev


# --------------------------------------------------------------------------
# Per-layer metrics (traced run)

# Micro-batch phases as reported in each query's progress, by the layer
# that does the work of the phase.
PHASE_LAYER = {
    "latestOffset": "streaming.sources",
    "getBatch": "streaming.sources",
    "queryPlanning": "streaming.pipeline",
    "addBatch": "streaming.sinks",
    "walCommit": "streaming.app",
    "commitOffsets": "streaming.app",
}


def phase_spans(progress: dict, first_id: int) -> list[dict]:
    """One span per trigger (streaming.app) with one child span per
    phase, laid end to end from the trigger's start in execution order."""
    import datetime as dt

    spans = []
    for query, batches in progress.items():
        for p in batches:
            d = p.get("durationMs", {})
            start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").timestamp()
            tid = first_id + len(spans)
            spans.append({"id": tid, "parent": None, "layer": "streaming.app",
                          "name": f"trigger.{query}", "start": start,
                          "end": start + d.get("triggerExecution", 0) / 1000})
            t = start
            for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
                ms = d.get(phase, 0)
                spans.append({"id": first_id + len(spans), "parent": tid, "layer": PHASE_LAYER[phase],
                              "name": phase, "start": t, "end": t + ms / 1000})
                t += ms / 1000
    return spans


def per_layer(workload: str, state: dict, traced: dict, ev_traced: dict, ev_plain: dict, gen_log: dict) -> dict:
    m = {k: 0.0 for k in PER_LAYER}
    m["session.get_spark_s"] = traced["get_spark_s"]
    m["app.wiring_s"] = traced.get("setup_wiring_s", 0.0)
    progress = traced.get("progress", {})
    batches = [p for ps in progress.values() for p in ps]

    def phase(ps, name, only_data=False):
        return _median([p["durationMs"].get(name, 0) for p in ps
                        if "durationMs" in p and (not only_data or p.get("numInputRows", 0) > 0)])

    m["sources.latest_offset_ms"] = phase(batches, "latestOffset")
    m["sources.get_batch_ms"] = phase(batches, "getBatch")
    m["app.wal_commit_ms"] = phase(batches, "walCommit")
    m["app.commit_offsets_ms"] = phase(batches, "commitOffsets")
    for q, ps in progress.items():
        if q in QUERIES:
            m[f"pipeline.query_planning_ms.{q}"] = phase(ps, "queryPlanning")
            m[f"app.batches.{q}"] = len(ps)
            m[f"app.add_batch_ms.{q}"] = phase(ps, "addBatch", only_data=True)
    stateful = [p for p in batches if p.get("stateOperators")]
    m["state.commit_ms"] = _median([sum(o.get("commitTimeMs", 0) for o in p["stateOperators"]) for p in stateful])
    for q, ps in progress.items():
        ops = [p["stateOperators"] for p in ps if p.get("stateOperators")]
        if ops:
            m["state.rows_total"] += max(sum(o.get("numRowsTotal", 0) for o in x) for x in ops)
            m["state.memory_bytes"] += max(sum(o.get("memoryUsedBytes", 0) for o in x) for x in ops)
            m["state.rows_dropped_late"] += sum(o.get("numRowsDroppedByWatermark", 0) for x in ops for o in x)
    if workload == "stream_exact_state":
        model_batches = [p for q in ("kmeans", "bisecting") for p in progress.get(q, [])]
        keys = sum(o.get("numRowsUpdated", 0) for p in model_batches for o in p.get("stateOperators", []))
        ms = sum(p["durationMs"].get("addBatch", 0) for p in model_batches)
        m["state.python_ms_per_key"] = ms / keys if keys else 0.0
    for sink, n in ev_traced.get("sinks_rows", {}).items():
        m[f"sinks.rows.{sink}"] = n
    m["scoring.flagged_ratio"] = ev_traced.get("flagged_ratio", 0.0)
    runs = traced.get("queries", [])
    for key in ("builder_s", "builder_jobs", "plan_s", "exec_s", "exec_jobs"):
        m[f"plans.{key}"] = sum(r.get(key, 0) for r in runs)
    spans = traced["trace"]["spans"]
    counts = traced["trace"]["counts"]
    m["tables.load_table_s"] = layer_totals(spans, "sources.tables", "load_table")[0]
    m["tables.load_table_calls"] = counts.get("sources.tables.load_table.calls", 0)
    m["train.sweep_s"] = layer_totals(spans, "ml.train", "train_sweep")[0]
    m["train.fits"] = counts.get("ml.train.train_sweep.items", 0)
    before, after = traced["cpu"]
    m["seat.cpu_busy_ratio"] = stats.busy_ratio(before, after)
    if gen_log:
        m["generator.lag_max_s"] = max(gen_log["lag"][state["measured_from"]:], default=0.0)
    if workload == "stream_open_loop":
        m["trace.overhead_ratio"] = ev_traced["latency_p50_s"] / ev_plain["latency_p50_s"] - 1
    else:
        m["trace.overhead_ratio"] = ev_plain["throughput_per_s"] / ev_traced["throughput_per_s"] - 1
    all_spans = spans + phase_spans(progress, len(spans))
    for layer, sec in self_times(all_spans).items():
        if f"self_s.{layer}" in m:
            m[f"self_s.{layer}"] = sec
    traced["trace"]["spans"] = all_spans
    return m


# --------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + BY_HAND)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_LIMIT_S
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        spec, state = prepare(args.workload, args.seed, args.seconds, run_dir)
        plain, gen_log = run_child(spec, state, run_dir, deadline)
        ev = evaluate(args.workload, state, plain, gen_log)
        detail = ev["detail"]
        if args.trace:
            traced, gen_log_t = run_child(dict(spec, trace=1), state, run_dir, deadline)
            ev_t = evaluate(args.workload, state, traced, gen_log_t)
            metrics = {k: (v, PER_LAYER[k]) for k, v in
                       per_layer(args.workload, state, traced, ev_t, ev, gen_log_t).items()}
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            with open(os.path.join(base, "traces", f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(traced["trace"], f)
            ev["attempted"] += ev_t["attempted"]
            ev["failed"] += ev_t["failed"]
            ev["errors"] += ev_t["errors"]
        else:
            metrics = {k: (ev[k], unit) for k, unit in END_TO_END.items()}
    except RunFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    detail.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, seat=stats.seat(), errors=ev["errors"][:20])
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not ev["errors"] and ev["failed"] == 0,
        "attempted": ev["attempted"],
        "failed": ev["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    # On SIGTERM unwind normally, so the child's process group is killed
    # and the run directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
