"""Every package module has a product caller.

A module counts as called when the import graph reaches it from a product
entry point: ``jobs/``, ``__spark_entry__.py``, ``bench.py`` or ``tools/``
(imports inside functions count, tests do not).  A module that only tests
import is dead code with a test attached: delete it, or give it a caller.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "ocr_table_extractor_to_csv_spark"
ENTRY_POINTS = ["__spark_entry__.py", "bench.py", "jobs/*.py", "tools/*.py"]

# Kept without a product caller on purpose; their own imports still count.
ALLOWED = {
    f"{PKG}.streaming.incremental": "documented availableNow ingest capability with its own tests",
    f"{PKG}.plans.bucketing": "zero-shuffle steady-state resume layout, pinned by a plan test",
}


def _name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path, modules: dict) -> set:
    """The package modules ``path`` imports (``import a.b.c`` imports ``a``
    and ``a.b`` too; ``from a import b`` may import the submodule ``a.b``)."""
    package = _name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module
            if node.level:
                parent = package[: len(package) - node.level + 1]
                base = ".".join(parent + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    found = set()
    for name in names:
        parts = name.split(".")
        found.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return found & modules.keys()


def test_every_package_module_has_a_product_caller():
    modules = {_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    todo = [p for pattern in ENTRY_POINTS for p in ROOT.glob(pattern)]
    todo += [modules[m] for m in ALLOWED]
    reached = set()
    while todo:
        for m in _imports(todo.pop(), modules) - reached:
            reached.add(m)
            todo.append(modules[m])
    assert sorted(set(modules) - reached - ALLOWED.keys()) == [], "modules without a product caller"
    assert sorted(ALLOWED.keys() & reached) == [], "allowlisted modules that now have a caller"


def _module_of(path: Path, node: ast.ImportFrom) -> str:
    package = _name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    if not node.level:
        return node.module
    parent = package[: len(package) - node.level + 1]
    return ".".join(parent + ([node.module] if node.module else []))


def test_no_state_on_module_functions():
    """Run state belongs to a RunScope, not to attributes hung on module
    functions: no ``fn.attr = ...`` and no ``setattr(fn, ...)`` where ``fn``
    is a module-level function of the package (defined in the module or
    imported from another package module)."""
    modules = {_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    trees = {m: ast.parse(p.read_text()) for m, p in modules.items()}
    defs = {
        m: {n.name for n in t.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
        for m, t in trees.items()
    }
    found = []
    for m, tree in trees.items():
        fns = set(defs[m])
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                src = defs.get(_module_of(modules[m], node), set())
                fns.update(a.asname or a.name for a in node.names if a.name in src)
        for node in ast.walk(tree):
            if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for a in ast.walk(t):
                        if (
                            isinstance(a, ast.Attribute)
                            and isinstance(a.value, ast.Name)
                            and a.value.id in fns
                        ):
                            found.append(f"{m}:{node.lineno} {a.value.id}.{a.attr} =")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "setattr"
                and node.args
                and isinstance(node.args[0], ast.Name)
                and node.args[0].id in fns
            ):
                found.append(f"{m}:{node.lineno} setattr({node.args[0].id}, ...)")
    assert found == [], "state stored on module functions"
