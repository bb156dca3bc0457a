"""Every package module, and every top-level definition in it, must be
reachable from a real entry point.

Walks the AST from the driver contract (``__spark_entry__.py``), the
benchmark (``perfbench/*.py``) and ``bench.py``. The module rule follows
the import graph, function-local imports too, and asserts that each
``time_series_prediction_spark`` module is reached. The definition rule
follows identifiers: a top-level function, class or constant is reached
when code already reached names it. The package's module-level
statements and decorators run at every import, so they are roots too.
Docstrings of any kind and comments do not count: a sentence that
mentions a function does not call it. A module or definition only its
own tests reach is dead code: delete it with its tests.

The perfbench cone test pins the modules the benchmark imports, so that
a dependency the lifecycle grows is a reviewed decision. The parameter
rule resolves every call in the package and the real entry points to
its definition in that cone, and fails on a defaulted parameter that no
such call sets, by position or by keyword: a flag with no caller is a
constant.
"""

from __future__ import annotations

import ast
import functools
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
    """Module, class and function docstrings."""
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
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
    module-level statements (imports included) and decorators, which
    every import runs."""
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


# ---------------------------------------------------------------------------
# parameter rule
# ---------------------------------------------------------------------------

# Defaulted parameters of perfbench's cone that no call outside the
# tests sets, each with the reason it stays. The set may only shrink:
# the test fails once an entry is gone or a real call sets it anyway.
KEPT_PARAMETERS = {
    "model.numpy_cnn.NumpyCNN1D.fit(epochs)":
        "fit is the multi-epoch loop for library users; perfbench times "
        "one epoch through train_batch",
}


@functools.cache
def _top_level(path: Path) -> dict[str, ast.AST]:
    tree = ast.parse(path.read_text(), str(path))
    return {s.name: s for s in tree.body if isinstance(
        s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}


class _Names:
    """Resolves names to package code. A result is a module
    (``pkg.mod``) or a top-level definition (``pkg.mod:name``)."""

    def __init__(self, modules: dict[str, Path]):
        self.modules = modules
        self.memo: dict[str, dict[str, str]] = {}

    def member(self, module: str, name: str) -> str | None:
        """What ``module.name`` is: a submodule, a definition, or what
        the module imports under that name (a re-export)."""
        if f"{module}.{name}" in self.modules:
            return f"{module}.{name}"
        if name in _top_level(self.modules[module]):
            return f"{module}:{name}"
        return self.bindings(module, self.modules[module]).get(name)

    def bindings(self, module: str, path: Path) -> dict[str, str]:
        """Names ``path`` binds: its imports anywhere in its body
        (function-local ones too), then its own top-level definitions."""
        if module in self.memo:
            return self.memo[module]
        self.memo[module] = out = {}
        package = (module if path.name == "__init__.py"
                   else module.rpartition(".")[0])
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname and a.name in self.modules:
                        out[a.asname] = a.name
                    elif not a.asname and a.name.split(".")[0] == PKG:
                        out[PKG] = PKG
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    anchor = package.split(".")
                    anchor = anchor[: len(anchor) - node.level + 1]
                    base = ".".join(anchor + ([base] if base else []))
                if base in self.modules and base != module:
                    for a in node.names:
                        target = self.member(base, a.name)
                        if target:
                            out[a.asname or a.name] = target
        if module in self.modules:
            out.update({n: f"{module}:{n}" for n in _top_level(path)})
        return out


def _cone_callables(modules: dict[str, Path]) -> dict[str, ast.AST]:
    """``{pkg.mod:func or pkg.mod:Class.method: its def}`` over the cone."""
    out = {}
    for mod in PERFBENCH_CONE:
        for name, node in _top_level(modules[mod]).items():
            if not isinstance(node, ast.ClassDef):
                out[f"{mod}:{name}"] = node
                continue
            for m in node.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    out[f"{mod}:{name}.{m.name}"] = m
    return out


class _Calls(ast.NodeVisitor):
    """Per cone callable, the parameter positions and the keywords that
    the calls in one file set. A class call sets its ``__init__``; a
    method called on an object this cannot resolve counts for every
    cone method of that name."""

    def __init__(self, module, bindings, names, callables, set_by):
        self.module, self.bindings, self.names = module, bindings, names
        self.callables, self.set_by = callables, set_by
        self.classes: list[str] = []

    def visit_ClassDef(self, node):
        self.classes.append(node.name)
        self.generic_visit(node)
        self.classes.pop()

    def _resolve(self, expr) -> str | None:
        if isinstance(expr, ast.Name):
            if expr.id in ("self", "cls") and self.classes:
                return f"{self.module}:{self.classes[-1]}"
            return self.bindings.get(expr.id)
        if isinstance(expr, ast.Attribute):
            base = self._resolve(expr.value)
            if base is None:
                return None
            if ":" in base:
                return f"{base}.{expr.attr}"
            return self.names.member(base, expr.attr)
        return None

    def visit_Call(self, node):
        self.generic_visit(node)
        func = node.func
        target = self._resolve(func)
        on_self = (isinstance(func, ast.Attribute)
                   and isinstance(func.value, ast.Name)
                   and func.value.id == "self")
        if f"{target}.__init__" in self.callables:
            targets = [(f"{target}.__init__", True)]
        elif target in self.callables:
            targets = [(target, on_self)]
        elif isinstance(func, ast.Attribute):
            targets = [(q, True) for q in self.callables
                       if "." in q.partition(":")[2]
                       and q.rpartition(".")[2] == func.attr]
        else:
            return
        starred = any(isinstance(a, ast.Starred) for a in node.args)
        for q, bound in targets:
            kinds = {d.id for d in self.callables[q].decorator_list
                     if isinstance(d, ast.Name)}
            if "staticmethod" in kinds:
                bound = False
            elif "classmethod" in kinds:
                bound = True
            positions, keywords = self.set_by.setdefault(q, (set(), set()))
            n = int(bound) + len(node.args)
            positions.update(range(10**3 if starred else n))
            keywords.update(k.arg or "**" for k in node.keywords)


def _unset_parameters() -> set[str]:
    """``mod.func(param)`` for every defaulted parameter of a cone
    callable that no call in the package or the real roots sets."""
    modules = _package_modules()
    names = _Names(modules)
    callables = _cone_callables(modules)
    set_by: dict[str, tuple[set[int], set[str]]] = {}
    for module, path in [*modules.items(), *((r.stem, r) for r in _roots())]:
        _Calls(module, names.bindings(module, path), names, callables,
               set_by).visit(ast.parse(path.read_text(), str(path)))
    unset = set()
    for q, fn in callables.items():
        a = fn.args
        params = a.posonlyargs + a.args
        defaulted = [(i, p.arg) for i, p in enumerate(params)
                     if i >= len(params) - len(a.defaults)]
        defaulted += [(None, p.arg) for p, d in
                      zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        positions, keywords = set_by.get(q, (set(), set()))
        for i, name in defaulted:
            if i not in positions and not keywords & {name, "**"}:
                short = q.removeprefix(f"{PKG}.").replace(":", ".")
                unset.add(f"{short}({name})")
    return unset


def test_every_cone_parameter_is_set():
    unset = _unset_parameters()
    stale = set(KEPT_PARAMETERS) - unset
    assert stale == set(), (
        f"KEPT_PARAMETERS names what is gone or set, drop them: {sorted(stale)}")
    assert unset - set(KEPT_PARAMETERS) == set(), (
        "defaulted parameters no real call sets; make them constants: "
        f"{sorted(unset - set(KEPT_PARAMETERS))}")
