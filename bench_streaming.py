#!/usr/bin/env python
"""Streaming throughput benchmark: replay the synthesized purchase
lines at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) through
the FULL four-branch pipeline (invalid routing, windowed cancellation
counts, keyed invoice state, two anomaly scorers) with parquet sinks
and availableNow triggers, and report end-to-end lines/second.

Context (BASELINE.md): the reference's producer sleeps 5-10 ms per
event — an ingest ceiling of ~100-200 events/s — and its DStream job
cogroups the ENTIRE invoice state against every 20 s batch. This
harness measures the rebuild's drain rate over the same logical
payload; the number is single-node local[N] but the plan is the one a
cluster runs.

Prints ONE JSON line:
  {"metric": "streaming pipeline throughput", "value": lines_per_sec,
   "unit": "lines/sec", "lines": N, "wall_sec": S, "sf": ...}

bench.py runs this script in fresh subprocess JVMs (median of 3) for
the ``streaming`` headline of its batch benchmark output.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_invoice_stream_analysis_spark.plans.queries import raw_lines
from bigdata_invoice_stream_analysis_spark.session import get_spark
from bigdata_invoice_stream_analysis_spark.streaming.app import (
    ModelSpec,
    PipelineConfig,
    run_pipeline,
)
from bigdata_invoice_stream_analysis_spark.streaming.runtime import await_all
from bigdata_invoice_stream_analysis_spark.streaming.sources import file_lines_source

FEATURE_COLS = [
    "AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time", "NumberItems",
]
CENTERS = [
    [3000.0, 1000.0, 8000.0, 12.0, 100.0],
    [15000.0, 5000.0, 40000.0, 12.0, 120.0],
]


def drain(spark, sf_dir: str, n_chunks: int = 8) -> dict:
    """Replay the sf_dir purchase lines through the four-branch pipeline
    (parquet sinks, availableNow) and return
    {"lines": N, "wall_sec": S, "lines_per_sec": rate}."""
    work = tempfile.mkdtemp(prefix="bench_stream_")
    src = os.path.join(work, "in")
    out = os.path.join(work, "out")
    try:
        # Materialize the line payload as n_chunks text files — each
        # file ≙ one producer chunk (micro-batch granularity comes from
        # maxFilesPerTrigger below).
        lines = raw_lines(spark, sf_dir).select("value")
        n = lines.count()
        lines.coalesce(n_chunks).write.mode("overwrite").text(src)

        cfg = PipelineConfig(
            sink_mode="parquet",
            out_dir=out,
            time_mode="event",
            watermark="10 minutes",
            available_now=True,
            models={
                "kmeans": ModelSpec(centers=CENTERS, threshold=4.0e9),
                "bisecting": ModelSpec(centers=CENTERS, threshold=4.0e9),
            },
            feature_cols=FEATURE_COLS,
        )
        stream = file_lines_source(
            spark, src, max_files_per_trigger=max(1, n_chunks // 4)
        )
        t0 = time.perf_counter()
        # Raises instead of reporting a rate over a drain that timed out.
        await_all(run_pipeline(stream, cfg), 600)
        wall = time.perf_counter() - t0
        return {
            "lines": n,
            "wall_sec": round(wall, 2),
            "lines_per_sec": round(n / wall, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_chunks = int(os.environ.get("SPARK_GRAFT_STREAM_CHUNKS", "8"))
    spark = get_spark(app_name="bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        res = drain(spark, sf_dir, n_chunks)
        print(
            json.dumps(
                {
                    "metric": "streaming pipeline throughput",
                    "value": res["lines_per_sec"],
                    "unit": "lines/sec",
                    "lines": res["lines"],
                    "wall_sec": res["wall_sec"],
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
