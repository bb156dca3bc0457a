"""Every package module, and every top-level definition in it, must be
reachable from a real entry point.

Walks the AST from the driver contract (``__spark_entry__.py``), the
benchmark (``perfbench/*.py``) and ``bench.py``. The module rule follows
the import graph, function-local imports too, and asserts that each
``time_series_prediction_spark`` module is reached. The definition rule
follows identifiers: a top-level function, class or constant is reached
when code already reached names it. The package's module-level
statements and decorators run at every import, so they are roots too;
the module docstring counts as the module's stated surface. Function
and class docstrings and comments do not count: a sentence that
mentions a function does not call it. A module or definition only its
own tests reach is dead code: delete it with its tests.

The perfbench cone test pins the modules the benchmark imports, so that
a dependency the lifecycle grows is a reviewed decision.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "time_series_prediction_spark"

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

# Extra roots of the definition rule, each with the reason it stays.
# These build or check table states that the live Delta/COW writers and
# readers must handle; deleting one first needs its tests rebuilt. The
# set may only shrink: the test fails once an entry is gone or reached
# from a real entry point anyway.
KEPT_ON_PURPOSE = {
    "operators.cow.check_table": "fsck the COW tests run on mutated tables",
    "operators.cow.repair_table": "repairs the tables check_table flags",
    "operators.cow.snapshot_read": "reads a pinned version in COW tests",
    "operators.cow.read_timestamp": "time travel by timestamp in COW tests",
    "operators.cow.version_as_of": "timestamp-to-version lookup in COW tests",
    "sources.deltalog.delta_set_identity_column": "builds identity-column tables",
    "sources.deltalog.delta_drop_constraint": "builds tables with dropped constraints",
    "sources.deltalog.delta_cleanup_metadata": "builds checkpointed, cleaned-up logs",
    "sources.deltalog.delta_write_crc": "writes the CRC sidecars the reader checks",
    "sources.deltalog.delta_verify_crc": "checks the CRC sidecars of written tables",
    "sources.deltalog.delta_history": "reads commit history in Delta tests",
    "sources.deltalog.delta_merge_sink": "builds MERGE commits for the reader",
}

# What ``perfbench/*.py`` imports, transitively. Growing this set pulls
# more of the package into the lifecycle; make that a reviewed change.
PERFBENCH_CONE = {
    PKG,
    f"{PKG}.model",
    f"{PKG}.model.numpy_cnn",
    f"{PKG}.model.scoring",
    f"{PKG}.model.train",
    f"{PKG}.operators",
    f"{PKG}.operators.asof",
    f"{PKG}.operators.losses",
    f"{PKG}.operators.materialize",
    f"{PKG}.operators.reshape",
    f"{PKG}.operators.timeseries",
    f"{PKG}.plans",
    f"{PKG}.plans.flagship",
    f"{PKG}.plans.preprocess",
    f"{PKG}.plans.relational",
    f"{PKG}.plans.timeseries_queries",
    f"{PKG}.plans.timeseries_queries2",
    f"{PKG}.plans.window_queries",
    f"{PKG}.session",
    f"{PKG}.session_memo",
    f"{PKG}.sources",
    f"{PKG}.sources.generate",
    f"{PKG}.sources.io",
}


def _roots() -> list[Path]:
    return [REPO / "__spark_entry__.py", REPO / "bench.py",
            *sorted((REPO / "perfbench").glob("*.py"))]


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


def _reached(modules: dict[str, Path], roots: list[Path]) -> set[str]:
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
    unreached = set(modules) - _reached(modules, _roots())
    assert unreached == set(), sorted(unreached)


def test_perfbench_cone_is_pinned():
    modules = _package_modules()
    cone = _reached(modules, sorted((REPO / "perfbench").glob("*.py")))
    assert cone == PERFBENCH_CONE, (
        f"grew: {sorted(cone - PERFBENCH_CONE)}, "
        f"shrank: {sorted(PERFBENCH_CONE - cone)}")


# ---------------------------------------------------------------------------
# definition rule
# ---------------------------------------------------------------------------

def _docstrings(tree: ast.AST) -> set[int]:
    """Function and class docstrings. A module docstring is a
    module-level statement: the module's stated surface, so it counts."""
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                ids.add(id(first.value))
    return ids


def _mentions(nodes, docstrings: set[int]) -> set[str]:
    """Identifiers ``nodes`` name: variables, attributes, imported names
    and identifier tokens of string constants (dispatch by name).
    Comments and the ``docstrings`` given do not count."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.update(node.name.split("."))
                if node.asname:
                    out.add(node.asname)
            elif (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and id(node) not in docstrings):
                out.update(_IDENT.findall(node.value))
    return out


def _definitions(modules: dict[str, Path]):
    """``{qualified name: (name, nodes, docstrings)}`` for every
    top-level function, class and constant, and the identifiers of the
    module-level statements (imports and the module docstring included)
    and decorators, which every import runs or states."""
    defs: dict[str, tuple[str, list[ast.AST], set[int]]] = {}
    import_time: set[str] = set()
    for mod, path in modules.items():
        tree = ast.parse(path.read_text(), str(path))
        docs = _docstrings(tree)
        short = mod.removeprefix(f"{PKG}.")
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                import_time |= _mentions(stmt.decorator_list, docs)
                defs[f"{short}.{stmt.name}"] = (stmt.name, [stmt], docs)
                continue
            if isinstance(stmt, ast.Assign):
                targets = stmt.targets
            elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
                targets = [stmt.target]
            else:
                targets = None
            if targets and all(isinstance(t, ast.Name) for t in targets):
                for t in targets:
                    defs[f"{short}.{t.id}"] = (t.id, [stmt], docs)
            else:
                import_time |= _mentions([stmt], docs)
    return defs, import_time


def _unreached_definitions(extra_roots=()) -> set[str]:
    defs, names = _definitions(_package_modules())
    for root in _roots():
        tree = ast.parse(root.read_text(), str(root))
        names |= _mentions([tree], _docstrings(tree))
    todo = set(extra_roots)
    left = {q for q, (name, _, _) in defs.items()
            if not (name.startswith("__") and name.endswith("__"))}
    while True:
        todo |= {q for q in left if defs[q][0] in names}
        if not todo:
            return left
        for q in todo:
            _, body, docs = defs[q]
            names |= _mentions(body, docs)
        left -= todo
        todo = set()


def test_every_package_definition_is_reached():
    missing = {q for q in KEPT_ON_PURPOSE if q not in _definitions(
        _package_modules())[0]}
    assert missing == set(), f"KEPT_ON_PURPOSE names what is gone: {sorted(missing)}"
    unreached = _unreached_definitions()
    reached_anyway = set(KEPT_ON_PURPOSE) - unreached
    assert reached_anyway == set(), (
        f"reached without KEPT_ON_PURPOSE, drop them: {sorted(reached_anyway)}")
    unreached = _unreached_definitions(KEPT_ON_PURPOSE)
    assert unreached == set(), sorted(unreached)
