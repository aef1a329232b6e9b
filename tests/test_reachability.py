"""Every module in the package is reached from an entry point.

The registry and the deployed pipeline are the system: a module that
no entry script imports, directly or through other package modules, is
dead code kept alive only by its own tests. The walk is AST-only (no
import, no Spark) and follows imports at module level and inside
function bodies, so lazily imported operators count as reached.

Roots: the registry entry module (``__spark_entry__.py``), the bench
CLIs, the benchmark harness and scripts, and the reference's three
entry points (``streaming.app``, ``streaming.producer``, ``ml.cli``).
``vendor/pyshim`` is exempt: ``vendor/protobuf_shim.py`` puts it on
``sys.path`` as ``google.protobuf``, so nothing imports it by its
package path."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "bigdata_invoice_stream_analysis_spark"
EXEMPT = (f"{PKG}.vendor.pyshim",)


def _module_files() -> dict[str, Path]:
    out = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def _roots() -> list[Path]:
    roots = [REPO / "__spark_entry__.py", REPO / "bench.py",
             REPO / "bench_streaming.py"]
    roots += [p for p in sorted((REPO / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    roots += sorted((REPO / "scripts").glob("*.py"))
    for mod in ("streaming/app.py", "streaming/producer.py", "ml/cli.py"):
        roots.append(REPO / PKG / mod)
    return roots


def _imports(path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules the file imports anywhere in its body, plus
    every parent package (importing a.b.c runs a and a.b first)."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            found.add(node.module)
            # ``from pkg import mod`` names a submodule, not an attribute
            found.update(f"{node.module}.{a.name}" for a in node.names)
    reached = set()
    for name in found:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                reached.add(prefix)
    return reached


def _unreached() -> list[str]:
    modules = _module_files()
    by_path = {path: mod for mod, path in modules.items()}
    seen: set[str] = set()
    stack = [by_path[r] for r in _roots() if r in by_path]
    stack += [m for r in _roots() for m in _imports(r, modules)]
    while stack:
        mod = stack.pop()
        if mod not in seen:
            seen.add(mod)
            stack.extend(_imports(modules[mod], modules) - seen)
    return sorted(m for m in modules
                  if m not in seen and not m.startswith(EXEMPT))


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = _unreached()
    assert not unreached, (
        f"modules no entry point reaches (register them or delete "
        f"them): {unreached}")
