"""Every package module must be reachable from a real entry point.

Walks the AST import graph from the driver contract
(``__spark_entry__.py``), the benchmark (``perfbench/*.py``) and
``bench.py``, following function-local imports too, and asserts that
each ``time_series_prediction_spark`` module is reached. A module only
its own tests import is dead code: delete it with its tests. The rule
has no exceptions.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "time_series_prediction_spark"


def _package_modules() -> dict[str, Path]:
    mods = {}
    for p in (REPO / PKG).rglob("*.py"):
        parts = p.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = p
    return mods


def _imports(path: Path, module: str, modules: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports anywhere in its body, plus the
    parent packages each import initialises."""
    package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules:
                    found.add(prefix)
    return found


def _reached(modules: dict[str, Path]) -> set[str]:
    roots = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    roots += sorted((REPO / "perfbench").glob("*.py"))
    seen: set[str] = set()
    todo = [m for r in roots for m in _imports(r, r.stem, modules)]
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(_imports(modules[mod], mod, modules))
    return seen


def test_every_package_module_is_reached():
    modules = _package_modules()
    unreached = set(modules) - _reached(modules)
    assert unreached == set(), sorted(unreached)
