"""Every module and every top-level definition in the package is reached
from an entry point.

The registry and the deployed pipeline are the system: code that no
entry script reaches, directly or through other package code, is dead
code kept alive only by its own tests. Both walks are AST-only (no
import, no Spark).

Roots: the registry entry module (``__spark_entry__.py``), the bench
CLIs, the benchmark harness and scripts, and the reference's three
entry points (``streaming.app``, ``streaming.producer``, ``ml.cli``).
``vendor/pyshim`` is exempt: ``vendor/protobuf_shim.py`` puts it on
``sys.path`` as ``google.protobuf``, so nothing imports it by its
package path.

The module walk follows imports at module level and inside function
bodies, so lazily imported operators count as reached.

The definition walk matches by name: a name shared by two definitions
keeps both alive, and so does an attribute of the same name on any
object (``atexit.register`` would keep a package ``register`` alive).
A top-level ``def`` or ``class`` of the package is reached when reached
code names it. Reached code is:

- every non-package root file, whole;
- the module-level statements of every package module (decorators,
  base classes and default values included), but not the re-exports of
  an ``__init__`` and not ``__all__``;
- the body of every reached definition, every definition that
  ``@query`` registers and every definition on ``KEEP``.

A name is: a ``Name``, an ``Attribute``'s attribute, an import inside a
function body (a lazy import), the original of an ``import ... as``
alias, or a string constant that is exactly an identifier (a lookup by
string, e.g. a traced wrap of ``"load_table"``); docstrings and other
bare string statements are not names. Tests are not roots.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "bigdata_invoice_stream_analysis_spark"
EXEMPT = (f"{PKG}.vendor.pyshim",)

# Decorators that register the definition they wrap.
REGISTRARS = {"query"}

# Unreached on purpose: the train -> serve surface that the app entry
# point (ROADMAP direction 3) will call. The list may only shrink.
KEEP = {
    f"{PKG}.ml.anomaly.load_model",
    f"{PKG}.ml.anomaly.load_threshold",
    f"{PKG}.streaming.scoring.centers_of",
    f"{PKG}.streaming.sources.kafka_lines_source",
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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


# --- definition level ------------------------------------------------------


def _names(nodes, aliases: dict[str, str], lazy: bool) -> set[str]:
    """Names the nodes reference. ``lazy``: imports count (the nodes
    are a function body, so an import there runs only when called)."""
    out: set[str] = set()
    skip: set[int] = set()
    for root in nodes:
        for node in ast.walk(root):
            if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
                skip.add(id(node.value))  # a docstring is not a lookup
            elif isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if id(node) not in skip and node.value.isidentifier():
                    out.add(node.value)
            elif lazy and isinstance(node, (ast.Import, ast.ImportFrom)):
                out.update(a.name.rsplit(".", 1)[-1] for a in node.names)
    return out | {aliases[n] for n in out if n in aliases}


def _aliases(tree: ast.Module) -> dict[str, str]:
    return {a.asname: a.name.rsplit(".", 1)[-1]
            for node in ast.walk(tree)
            if isinstance(node, (ast.Import, ast.ImportFrom))
            for a in node.names if a.asname}


def _is_all(stmt: ast.stmt) -> bool:
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, (ast.AugAssign, ast.AnnAssign))
               else [])
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _module_level(tree: ast.Module, is_init: bool) -> list[ast.AST]:
    """What runs at import: every statement except definition bodies,
    ``__all__`` and (in an ``__init__``) imports, which only re-export."""
    out: list[ast.AST] = []
    for stmt in tree.body:
        if isinstance(stmt, _DEF):
            out += stmt.decorator_list
            if isinstance(stmt, ast.ClassDef):
                out += stmt.bases + stmt.keywords
            else:
                out += stmt.args.defaults + [d for d in stmt.args.kw_defaults if d]
        elif _is_all(stmt) or (is_init and isinstance(stmt, (ast.Import, ast.ImportFrom))):
            continue
        else:
            out.append(stmt)
    return out


def _registered(node) -> bool:
    for dec in node.decorator_list:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id in REGISTRARS:
            return True
    return False


@functools.cache
def _unreached_definitions() -> dict[str, int]:
    """Top-level package definitions no entry point reaches, as
    ``module.name`` -> line count. A kept definition's body counts as
    reached code, so what it calls is not reported with it."""
    modules = _module_files()
    defs: dict[str, list[tuple[str, ast.AST, dict[str, str]]]] = {}
    todo: list[str] = []
    for mod, path in modules.items():
        if mod.startswith(EXEMPT):
            continue
        tree = ast.parse(path.read_text())
        aliases = _aliases(tree)
        todo += _names(_module_level(tree, path.name == "__init__.py"), aliases, False)
        for stmt in tree.body:
            if isinstance(stmt, _DEF):
                qual = f"{mod}.{stmt.name}"
                defs.setdefault(stmt.name, []).append((qual, stmt, aliases))
                if _registered(stmt):
                    todo.append(stmt.name)
                if qual in KEEP:
                    todo += _names(stmt.body, aliases, True)
    package = {p.resolve() for p in modules.values()}
    for path in _roots():
        if path.resolve() not in package:
            tree = ast.parse(path.read_text())
            todo += _names([tree], _aliases(tree), True)
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for _, stmt, aliases in defs.get(name, []):
                todo += _names(stmt.body, aliases, True) - reached
    return {qual: stmt.end_lineno - stmt.lineno + 1
            for name, entries in defs.items() if name not in reached
            for qual, stmt, _ in entries}


def _test_names() -> set[str]:
    out: set[str] = set()
    for path in [*(REPO / "tests").rglob("*.py"), *(REPO / "perfbench").glob("test_*.py")]:
        tree = ast.parse(path.read_text())
        out |= _names([tree], _aliases(tree), True)
    return out


def test_every_package_definition_is_reached_from_an_entry_point():
    dead = sorted(set(_unreached_definitions()) - KEEP)
    tested = _test_names()
    test_only = [q for q in dead if q.rsplit(".", 1)[-1] in tested]
    nowhere = [q for q in dead if q not in test_only]
    assert not dead, (
        "definitions no entry point reaches (register them, call them, "
        "move test fixtures under tests/, or delete them):\n"
        f"  referenced only by tests: {test_only}\n"
        f"  referenced nowhere: {nowhere}")


def test_keep_list_is_not_stale():
    """Each kept name exists and still has no caller outside tests: once
    the entry point calls one, it must leave the list."""
    stale = KEEP - set(_unreached_definitions())
    assert not stale, f"KEEP names that are gone or now reached: {sorted(stale)}"
