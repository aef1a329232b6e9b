"""Drain-gate classification hygiene (r10 ADVICE).

bench.py times drain gates under a different protocol (fresh-JVM
min-of-3, input diet) than batch queries; it reads the checked-in
``plans/queries.DRAIN_GATES`` set. These tests recompute the
TRANSITIVE call scan (a builder calls the diet hook, or calls a
top-level function of any plans module that reaches it, however many
helpers deep) and fail on any drift in either direction — a new gate,
or a refactor that routes the diet call through another shared
helper, must update the set in the same commit instead of silently
landing in the wrong timing cohort (the r8/r9 full-pipeline
misclassification)."""

from __future__ import annotations

import ast
import importlib
import inspect
import pkgutil
import sys
import textwrap
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark import plans
from bigdata_invoice_stream_analysis_spark.plans.queries import (
    DRAIN_GATES,
    QUERIES,
)

DIET = "_drain_input_diet"


def _called_names(fn) -> set[str]:
    """Names ``fn``'s body calls, read from the AST: ``f(...)`` gives
    ``f`` and ``mod.f(...)`` gives ``f``. Decorators are not scanned."""
    fdef = ast.parse(textwrap.dedent(inspect.getsource(fn))).body[0]
    return {
        node.func.id if isinstance(node.func, ast.Name) else node.func.attr
        for stmt in fdef.body
        for node in ast.walk(stmt)
        if isinstance(node, ast.Call)
        and isinstance(node.func, (ast.Name, ast.Attribute))
    }


def _scanned_gates() -> set[str]:
    """Names whose builder reaches the diet hook through the call graph
    of top-level functions in every plans module."""
    helpers: dict[str, set[str]] = {}
    for info in pkgutil.iter_modules(plans.__path__):
        mod = importlib.import_module(f"{plans.__name__}.{info.name}")
        for name, obj in vars(mod).items():
            if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                helpers[name] = _called_names(obj)
    reaching = {DIET}
    while new := {h for h, calls in helpers.items()
                  if h not in reaching and calls & reaching}:
        reaching |= new
    return {name for name, fn in QUERIES.items()
            if _called_names(fn) & reaching}


def test_drain_gates_match_transitive_scan():
    scanned = _scanned_gates()
    assert scanned == set(DRAIN_GATES), (
        f"only-scan={sorted(scanned - set(DRAIN_GATES))} "
        f"only-set={sorted(set(DRAIN_GATES) - scanned)}"
    )


def test_drain_gates_are_registered_queries():
    missing = sorted(set(DRAIN_GATES) - set(QUERIES))
    assert not missing, missing
