"""Every top-level function, class and module constant under
geowave_spark/, and every method of a class so reached, is reached from
a non-test entry point.

AST only, no Spark. Roots are the driver entry (``__spark_entry__.py``),
``bench.py``, ``tools/``, ``geobench/``, the CLI (``geowave_spark/cli.py``)
and ``DataStore`` with its public methods (the user API). A definition
is reached when a root, or a reached definition, names it: an
``ast.Name`` or an ``ast.Attribute`` with its name. A method is reached
when its class is reached and its name is so named, whatever the
receiver; a dunder method comes with its class. Strings do not count,
so neither a docstring nor an ``__all__`` entry keeps code alive, and
neither does an import alone; the one exception is a root's
module-level string that holds a script (``tools/scaling_bench.py``
runs its ``WORKER`` with ``python -c``).
Names are matched without their module, which can only over-count
reach. Module-level statements that are not definitions (they run on
import) count as roots of their module.

Engine code that only tests reach is deleted together with the tests
that check only it, or its reference implementation moves to tests/.
``KEEP`` lists the exceptions, each with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "geowave_spark"

KEEP = {
    # Hot-cell salting is a design requirement for skewed joins (SURVEY
    # §M5); wiring it into the joins waits for a skewed workload.
    ("plans/stats.py", "hot_cells"): "skew salting, not yet wired",
    ("plans/stats.py", "salt_column"): "skew salting, not yet wired",
    ("plans/stats.py", "explode_salts"): "skew salting, not yet wired",
}


def _py_files(path: Path):
    return sorted(p for p in path.rglob("*.py") if "__pycache__" not in p.parts)


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _class_graph(cls: ast.ClassDef):
    """(refs of the class outside its methods, {method: refs})."""
    outside = set()
    for n in cls.bases + cls.keywords + cls.decorator_list:
        outside |= _refs(n)
    methods = {}
    for stmt in cls.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            methods[stmt.name] = _refs(stmt)
        else:
            outside |= _refs(stmt)
    return outside, methods


def _engine_graph():
    """({(module, name): refs}, refs of module-level statements). A
    method is keyed by ``Class.method``."""
    defs: dict[tuple[str, str], set[str]] = {}
    on_import: set[str] = set()
    for path in _py_files(ENGINE):
        rel = path.relative_to(ENGINE).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, ast.ClassDef):
                defs[(rel, stmt.name)], methods = _class_graph(stmt)
                for name, refs in methods.items():
                    defs[(rel, f"{stmt.name}.{name}")] = refs
            elif isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[(rel, stmt.name)] = _refs(stmt)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
                value = _refs(stmt.value) if stmt.value is not None else set()
                for name in names:
                    if not (name.startswith("__") and name.endswith("__")):
                        defs[(rel, name)] = value
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)) and not (
                isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
            ):  # imports and docstrings reach nothing; the rest runs on import
                on_import |= _refs(stmt)
    return defs, on_import


def _root_refs() -> set[str]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ENGINE / "cli.py"]
    files += _py_files(ROOT / "tools") + _py_files(ROOT / "geobench")
    out = set()
    for path in files:
        tree = ast.parse(path.read_text())
        out |= _refs(tree)
        for stmt in tree.body:
            if isinstance(stmt, ast.Assign) and isinstance(stmt.value, ast.Constant) \
                    and isinstance(stmt.value.value, str):
                try:
                    out |= _refs(ast.parse(stmt.value.value))
                except SyntaxError:
                    pass
    return out


def _named(key: tuple[str, str], names: set[str], reached) -> bool:
    cls, _, method = key[1].rpartition(".")
    if not cls:
        return method in names
    dunder = method.startswith("__") and method.endswith("__")
    return (key[0], cls) in reached and (dunder or method in names)


def _unreached() -> list[tuple[str, str]]:
    defs, on_import = _engine_graph()
    reached = {("api.py", "DataStore")} | {
        k for k in defs
        if k[0] == "api.py" and k[1].startswith("DataStore.")
        and not k[1].startswith("DataStore._")
    }
    names = _root_refs() | on_import
    new = reached
    while new:
        for k in new:
            names |= defs[k]
        new = {k for k in defs if k not in reached and _named(k, names, reached)}
        reached |= new
    return sorted(k for k in defs if k not in reached)


def test_every_engine_definition_is_reached_outside_tests():
    unreached = [k for k in _unreached() if k not in KEEP]
    assert unreached == [], (
        "reached only from tests (delete, move to tests/, or wire into a "
        f"caller): {unreached}"
    )


def test_keep_list_names_only_live_test_only_definitions():
    defs, _ = _engine_graph()
    assert set(KEEP) <= set(defs), sorted(set(KEEP) - set(defs))
    assert set(KEEP) <= set(_unreached()), "a KEEP entry is now reached; drop it"
