"""Spans recorded by the benchmark around its calls into each layer.

A span has a layer (a module of the program, e.g. ``plans`` or
``streaming.app``), a name, a start, an end and the span that caused it.
Spans are kept in memory and written out once at the end of a run. A
layer's self time is the time its spans cover minus the part their child
spans cover.

Nothing here reaches inside the program: calls are timed at the
benchmark's side of the boundary, wrapped functions are replaced at the
program's import sites (traced runs only), and streaming phases come from
the progress each query already reports.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    costs one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, parent, layer, name, time.perf_counter(), 0.0)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def count(self, key: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0) + value

    def wrap(self, package: str, home: str, attr: str, layer: str, tally=None) -> int:
        """Replace function ``attr`` of module ``home`` with a timed and
        counted wrapper, in ``home`` and in every imported module of
        ``package`` that bound the same function by name. ``tally(result)``
        adds to the ``<layer>.<attr>.items`` count. Returns the number of
        modules patched."""
        if not self.enabled:
            return 0
        fn = getattr(importlib.import_module(home), attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            self.count(f"{layer}.{attr}.calls")
            with self.span(layer, attr):
                out = fn(*args, **kwargs)
            if tally is not None:
                self.count(f"{layer}.{attr}.items", tally(out))
            return out

        patched = 0
        for name, mod in list(sys.modules.items()):
            if (name == home or name.startswith(package + ".")) and getattr(mod, attr, None) is fn:
                setattr(mod, attr, timed)
                patched += 1
        return patched

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], "counts": self.counts}, f)


def job_counter(spark):
    """A callable giving the number of Spark jobs the session has started,
    counted by the scheduler across all threads. A thread-local job group
    would miss the jobs ml.train.train_sweep submits from its pool."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer covered by its spans and not by their children."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        own = max(0.0, s["end"] - s["start"] - covered)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def layer_totals(spans: list[dict], layer: str, name: str | None = None) -> tuple[float, int]:
    """(seconds, count) of the spans of one layer (and name)."""
    sel = [s for s in spans if s["layer"] == layer and (name is None or s["name"] == name)]
    return sum(s["end"] - s["start"] for s in sel), len(sel)
