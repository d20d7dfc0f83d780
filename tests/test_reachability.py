"""Every module of the package is reached from an engine entry point.

A module that only tests import is code no user path runs: no CLI verb,
catalog entry, benchmark or operator script. This walks the import graph
statically (AST only, no Spark, nothing imported) from the entry points
and fails naming every package module it never reaches, so test-only
code cannot come back unnoticed.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "maritime_activity_reports_cdc_spark"
ENTRY_POINTS = (
    f"{PACKAGE}/cli.py",
    "__spark_entry__.py",
    "bench.py",
    "perfbench/run.py",
    "scripts/run_replay.py",
    "BENCH/scaling.py",
)


def _resolve(name: str, roots: tuple[Path, ...]) -> Path | None:
    """The file a dotted module name loads from, given the import roots
    (the repo root plus the running script's directory)."""
    for root in roots:
        base = root.joinpath(*name.split("."))
        for path in (base.with_suffix(".py"), base / "__init__.py"):
            if path.is_file():
                return path
    return None


def _module_name(path: Path) -> str | None:
    rel = path.relative_to(REPO).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts) if parts and parts[0] == PACKAGE else None


def _imported_names(tree: ast.AST, module: str | None, is_pkg: bool) -> set[str]:
    """Dotted names a module may load, including function-local imports
    and child scripts held in string literals (``BENCH/scaling.py``
    writes its workers that way). ``from a import b`` yields ``a`` and
    ``a.b``: ``b`` may be a submodule."""
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level and module:
                pkg = module.split(".")
                pkg = pkg[: len(pkg) - node.level + (1 if is_pkg else 0)]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if "import " in node.value:
                try:
                    names |= _imported_names(ast.parse(node.value), None, False)
                except SyntaxError:
                    pass
    return names


def reachable_modules() -> set[Path]:
    seen: set[Path] = set()
    for entry in ENTRY_POINTS:
        start = REPO / entry
        roots = (REPO, start.parent)
        todo = [start]
        while todo:
            path = todo.pop()
            if path in seen:
                continue
            seen.add(path)
            module = _module_name(path)
            tree = ast.parse(path.read_text(), str(path))
            for name in _imported_names(tree, module, path.name == "__init__.py"):
                parts = name.split(".")
                # importing a.b.c runs a/__init__ and a/b/__init__ first
                for i in range(1, len(parts) + 1):
                    found = _resolve(".".join(parts[:i]), roots)
                    if found is not None and found not in seen:
                        todo.append(found)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    reached = reachable_modules()
    modules = sorted((REPO / PACKAGE).rglob("*.py"))
    assert modules
    unreached = [str(p.relative_to(REPO)) for p in modules if p not in reached]
    assert not unreached, (
        "package modules no entry point imports (only tests reach them): "
        + ", ".join(unreached)
    )
