"""Percentiles, latency from checkpoint logs and the seat's CPU counters.

Latency is read from outside the program. Under each query's checkpoint
the file source logs which input files every batch read
(``sources/0/<batch>``, compacted into ``<batch>.compact`` every few
batches) and the commit log holds one file per finished batch
(``commits/<batch>``), whose mtime is when the batch committed. A chunk
is committed when the last query commits a batch that read it; a line's
latency runs from when it was due to when its chunk was committed.
"""

from __future__ import annotations

import json
import math
import os

# A chunk must be committed by every sink within the reference's 20 s
# batch interval (InvoicePipeline.scala:36), or it counts as failed.
COMMIT_DEADLINE_S = 20.0

# Checkpoint directory name -> query suffix used in metric names.
QUERY_OF_CHECKPOINT = {
    "facturas_erroneas": "invalid",
    "cancelaciones": "cancellations",
    "anomalias_kmeans": "kmeans",
    "anomalias_bisect_kmeans": "bisecting",
    "anomalias_router": "router",
}


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default) of ``values``."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def line_latencies(
    done: dict[str, float], due: dict[str, float], lines: dict[str, int], rate: float | None
) -> list[float]:
    """One latency per line of every committed chunk: from when the line
    was due to when its chunk was committed. ``due`` is when a chunk was
    due, i.e. when its last line was; with an open-loop ``rate`` (lines
    per second) the earlier lines of a chunk were due 1/rate apart before
    it, and with ``rate=None`` every line was due at ``due``."""
    out: list[float] = []
    for f, t in due.items():
        if f not in done:
            continue
        base = done[f] - t
        n = lines[f]
        if rate is None:
            out.extend([base] * n)
        else:
            out.extend(base + (n - 1 - j) / rate for j in range(n))
    return out


def tail_percentile(n: int, beyond: int = 10) -> float:
    """The highest of p50, p90, p99, p99.9 that has at least ``beyond``
    of ``n`` samples above it (0 if not even the median has)."""
    best = 0.0
    for per_mille in (500, 900, 990, 999):
        if n * (1000 - per_mille) >= beyond * 1000:
            best = per_mille / 1000
    return best


def _source_log_entries(source_dir: str) -> dict[int, list[str]]:
    """batch id -> input file names read by that batch."""
    out: dict[int, list[str]] = {}
    if not os.path.isdir(source_dir):
        return out
    for name in os.listdir(source_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(source_dir, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if line.strip():
                entry = json.loads(line)
                out.setdefault(entry["batchId"], []).append(os.path.basename(entry["path"]))
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """batch id -> commit-log file mtime (epoch seconds)."""
    d = os.path.join(checkpoint, "commits")
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
    return out


def file_commit_times(checkpoint_root: str) -> dict[str, float]:
    """Input file name -> latest commit time over every query under
    ``checkpoint_root`` (one sub-directory per query). A file some query
    has not committed yet is absent."""
    per_query: list[dict[str, float]] = []
    for q in sorted(os.listdir(checkpoint_root)):
        ckpt = os.path.join(checkpoint_root, q)
        commits = commit_times(ckpt)
        files = _source_log_entries(os.path.join(ckpt, "sources", "0"))
        per_query.append(
            {f: commits[b] for b, names in files.items() if b in commits for f in names}
        )
    if not per_query:
        return {}
    common = set.intersection(*(set(m) for m in per_query))
    return {f: max(m[f] for m in per_query) for f in common}


def cpu_times() -> tuple[int, int]:
    """(busy, total) jiffies of the whole seat from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        parts = [int(x) for x in f.readline().split()[1:]]
    idle = parts[3] + (parts[4] if len(parts) > 4 else 0)
    return sum(parts) - idle, sum(parts)


def busy_ratio(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def seat() -> dict:
    model = ""
    try:
        with open("/proc/cpuinfo", encoding="utf-8") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {"nproc": os.cpu_count(), "cpu_model": model}
