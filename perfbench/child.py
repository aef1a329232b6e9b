"""One workload in a fresh interpreter: ``python3 perfbench/child.py SPEC``.

``run.py`` generates the inputs, starts this process and checks what it
leaves behind. This process holds the system under test: it imports the
package, builds the session, wires the workload through the package's
public functions, measures it and writes ``result.json`` (plus
``spans.json`` when tracing) into the run directory named by the spec.
"""

from __future__ import annotations

import json
import os
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import COMMIT_DEADLINE_S, QUERY_OF_CHECKPOINT, cpu_times, file_commit_times  # noqa: E402
from spans import Tracer, job_counter  # noqa: E402

PKG = "bigdata_invoice_stream_analysis_spark"


class Workload:
    def __init__(self, spec: dict):
        self.spec = spec
        self.run_dir = spec["run_dir"]
        self.tracer = Tracer(bool(spec["trace"]))
        self.result: dict = {"errors": []}
        self.spark = None

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        sys.path.insert(0, self.spec["root"])
        with self.tracer.span("session", "import"):
            import pyspark  # noqa: F401

            __import__(f"{PKG}.session")
            __import__(f"{PKG}.streaming.app")
            __import__(f"{PKG}.streaming.sources")
            if self.spec["workload"] == "registry_sweep":
                __import__(f"{PKG}.plans.queries")
        self.result["import_s"] = time.perf_counter() - T_START
        from bigdata_invoice_stream_analysis_spark.session import get_spark

        t = time.perf_counter()
        with self.tracer.span("session", "get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.spec['workload']}",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir}/tmp",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.result["get_spark_s"] = time.perf_counter() - t

    def stop(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()

    # -- streaming helpers ------------------------------------------------

    def _config(self, out_dir: str, available_now: bool):
        from gen import FEATURE_COLS, MODELS

        from bigdata_invoice_stream_analysis_spark.streaming.app import ModelSpec, PipelineConfig

        return PipelineConfig(
            sink_mode="parquet",
            out_dir=out_dir,
            time_mode="event",
            watermark="10 minutes",
            available_now=available_now,
            legacy_state=self.spec["workload"] == "stream_exact_state",
            models={m: ModelSpec(centers=s["centers"], threshold=s["threshold"]) for m, s in MODELS.items()},
            feature_cols=FEATURE_COLS,
        )

    def _wire(self, src: str, out_dir: str, available_now: bool, router: bool, files_per_trigger=None):
        from bigdata_invoice_stream_analysis_spark.streaming import app, sources

        cfg = self._config(out_dir, available_now)
        t = time.perf_counter()
        with self.tracer.span("streaming.app", "wiring"):
            with self.tracer.span("streaming.sources", "file_lines_source"):
                lines = sources.file_lines_source(self.spark, src, max_files_per_trigger=files_per_trigger)
            wire = app.run_pipeline_router if router else app.run_pipeline
            queries = wire(lines, cfg)
        return queries, time.perf_counter() - t

    def _progress(self, queries) -> dict:
        """Each query's recentProgress (the last 100 batches, more than any
        workload runs), keyed by the query's checkpoint name. Read once,
        after the measured part of a traced run."""
        seen: dict = {}
        if not self.tracer.enabled:
            return seen
        for q in queries:
            root = q._jsq.streamingQuery().resolvedCheckpointRoot()
            name = QUERY_OF_CHECKPOINT.get(os.path.basename(root.rstrip("/")), "other")
            per = seen.setdefault(name, {})
            for p in q.recentProgress:
                p = json.loads(p.json) if hasattr(p, "json") else dict(p)
                per[(p["timestamp"], p["batchId"])] = p
        return {k: [v[b] for b in sorted(v)] for k, v in seen.items()}

    @staticmethod
    def _await(queries, timeout: float) -> None:
        end = time.monotonic() + timeout
        while any(q.isActive for q in queries):
            if time.monotonic() > end:
                raise TimeoutError("drain did not finish")
            time.sleep(0.05)
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

    # -- workloads --------------------------------------------------------

    def drain(self) -> None:
        """Drain the whole input with availableNow from a cold start;
        run.py reads when each file was committed from the checkpoints."""
        spec = self.spec
        out = os.path.join(self.run_dir, "out-0")
        self.result["cpu"] = [cpu_times()]
        start = time.time()
        queries, wiring = self._wire(spec["input_dir"], out, True, False, spec["files_per_trigger"])
        self.result["setup_wiring_s"] = wiring
        self._await(queries, 170)
        self.result["cpu"].append(cpu_times())
        self.result.update(out=out, start=start, progress=self._progress(queries))

    def open_loop(self) -> None:
        """Start the shared-scan router on an empty directory, signal the
        generator (run.py) and keep running until it is done and every
        chunk it wrote has been committed by every query."""
        spec = self.spec
        queries, wiring = self._wire(spec["warmup_dir"], os.path.join(self.run_dir, "warmup-out"), True, True, 2)
        self.result["setup_wiring_s"] = wiring
        self._await(queries, 120)
        out = os.path.join(self.run_dir, "out-0")
        queries, _ = self._wire(spec["input_dir"], out, False, True)
        self.result["cpu"] = [cpu_times()]
        with open(os.path.join(self.run_dir, "ready"), "w") as f:
            f.write(str(time.time()))
        done = os.path.join(self.run_dir, "done")
        limit = time.monotonic() + spec["warmup_s"] + spec["seconds"] + 60
        while not os.path.exists(done):
            if time.monotonic() > limit or not all(q.isActive for q in queries):
                raise RuntimeError("generator did not finish or a query stopped")
            time.sleep(0.1)
        with open(done, encoding="utf-8") as f:
            files = json.load(f)["files"]
        # Every chunk committed by every query, then the watermark of the
        # last batch applied (one more batch without data), then stop.
        ckpt = os.path.join(out, "_checkpoints")
        end = time.monotonic() + COMMIT_DEADLINE_S
        while time.monotonic() < end and len(file_commit_times(ckpt)) < len(files):
            time.sleep(0.05)
        cancel = next(q for q in queries if q._jsq.streamingQuery().resolvedCheckpointRoot().endswith("cancelaciones"))
        want_wm = spec["final_watermark"]
        while time.monotonic() < end:
            p = cancel.lastProgress
            if p and p.get("eventTime", {}).get("watermark") == want_wm and p.get("numInputRows") == 0:
                break
            time.sleep(0.05)
        self.result["cpu"].append(cpu_times())
        self.result.update(out=out, progress=self._progress(queries))
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            q.stop()

    def registry(self) -> None:
        """Warm the JVM with the warm-up queries, untimed and untraced,
        then build, plan and count each query of the slice once, in the
        slice's order, timing each step and the jobs it fires."""
        import __spark_entry__ as entry

        from bigdata_invoice_stream_analysis_spark.plans.queries import QUERIES

        spec, tr = self.spec, self.tracer
        oracles = entry.oracle_sql()
        warmup = []
        for name in spec["warmup_queries"]:
            r = {"name": name, "oracle": oracles.get(name), "warmup": True}
            try:
                r["rows"] = QUERIES[name](self.spark, spec["tables_dir"]).count()
            except Exception as e:  # counted as a failed query by run.py
                r["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            warmup.append(r)
        tr.wrap(PKG, f"{PKG}.sources.tables", "load_table", "sources.tables")
        tr.wrap(PKG, f"{PKG}.ml.train", "train_sweep", "ml.train", tally=len)
        jobs = job_counter(self.spark)
        runs = []
        self.result["cpu"] = [cpu_times()]
        for name in spec["queries"]:
            r = {"name": name, "oracle": oracles.get(name)}
            try:
                with tr.span("plans", name):
                    j0, t0 = jobs(), time.perf_counter()
                    with tr.span("plans", "builder"):
                        df = QUERIES[name](self.spark, spec["tables_dir"])
                    j1, t1 = jobs(), time.perf_counter()
                    with tr.span("plans", "plan"):
                        df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tr.span("plans", "exec"):
                        r["rows"] = df.count()
                    j3, t3 = jobs(), time.perf_counter()
                r.update(builder_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2,
                         builder_jobs=j1 - j0, exec_jobs=j3 - j1)
            except Exception as e:  # a failed query is counted, the sweep goes on
                r["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            runs.append(r)
        self.result["cpu"].append(cpu_times())
        self.result["warmup"] = warmup
        self.result["queries"] = runs

    def run(self) -> None:
        try:
            self.setup()
            {
                "stream_drain": self.drain,
                "stream_exact_state": self.drain,
                "stream_open_loop": self.open_loop,
                "registry_sweep": self.registry,
            }[self.spec["workload"]]()
        except Exception as e:  # reported to run.py, which fails the run
            import traceback

            self.result["errors"].append(f"{type(e).__name__}: {e}")
            traceback.print_exc()
        finally:
            self.stop()
            self.result["counts"] = self.tracer.counts
            if self.tracer.enabled:
                self.tracer.dump(os.path.join(self.run_dir, "spans.json"))
            path = os.path.join(self.run_dir, "result.json")
            with open(path + ".tmp", "w", encoding="utf-8") as f:
                json.dump(self.result, f)
            os.rename(path + ".tmp", path)


if __name__ == "__main__":
    with open(sys.argv[1], encoding="utf-8") as f:
        Workload(json.load(f)).run()
