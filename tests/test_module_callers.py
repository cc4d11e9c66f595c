"""Every package module has a product caller.

A module counts as called when the import graph reaches it from a product
entry point: ``jobs/``, ``__spark_entry__.py``, ``bench.py`` or ``tools/``
(imports inside functions count, tests do not).  A module that only tests
import is dead code with a test attached: delete it, or give it a caller.
"""

import ast
import difflib
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "ocr_table_extractor_to_csv_spark"
ENTRY_POINTS = ["__spark_entry__.py", "bench.py", "jobs/*.py", "tools/*.py"]


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
    reached = set()
    while todo:
        for m in _imports(todo.pop(), modules) - reached:
            reached.add(m)
            todo.append(modules[m])
    assert sorted(set(modules) - reached) == [], "modules without a product caller"


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


def _passes_worker_batches(call: ast.Call) -> bool:
    fn = call.args[0] if call.args else next((k.value for k in call.keywords if k.arg == "func"), None)
    if not isinstance(fn, ast.Call):
        return False
    name = fn.func.attr if isinstance(fn.func, ast.Attribute) else getattr(fn.func, "id", None)
    return name == "worker_batches"


def test_every_map_stage_goes_through_worker_batches():
    """Every ``.mapInArrow(``/``.mapInPandas(`` call in the package, ``jobs/``
    and ``__spark_entry__.py`` passes its function through
    ``session.worker_batches(...)``, so no stage brings back the per-task
    zip-archive re-read that wrapper removes."""
    paths = list((ROOT / PKG).rglob("*.py")) + list(ROOT.glob("jobs/*.py"))
    paths.append(ROOT / "__spark_entry__.py")
    stages, bare = [], []
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("mapInArrow", "mapInPandas")
            ):
                where = f"{path.relative_to(ROOT)}:{node.lineno}"
                stages.append(where)
                if not _passes_worker_batches(node):
                    bare.append(where)
    assert stages, "no map stages found: the scan is broken"
    assert bare == [], "map stages without worker_batches"


def _body_tokens(fn: ast.FunctionDef) -> list:
    """The tokens of ``fn``'s body without its docstring, as ``ast.unparse``
    prints it (so formatting and comments do not count)."""
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]
    return re.findall(r"\w+|[^\w\s]", "\n".join(ast.unparse(s) for s in body))


def test_no_twin_functions():
    """No two functions of >= 60 body tokens in the package, ``jobs/`` and
    ``__spark_entry__.py`` are near-copies (difflib ratio >= 0.9 over their
    tokens): fold a twin into one helper with a parameter instead.  Pairs
    whose lengths differ by more than 10% cannot reach the bound and are
    skipped, as is a function nested in the other."""
    paths = sorted((ROOT / PKG).rglob("*.py")) + sorted(ROOT.glob("jobs/*.py"))
    paths.append(ROOT / "__spark_entry__.py")
    fns = []
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                toks = _body_tokens(node)
                if len(toks) >= 60:
                    fns.append((path, node, toks))
    twins = []
    for i, (pa, a, ta) in enumerate(fns):
        for pb, b, tb in fns[i + 1 :]:
            if max(len(ta), len(tb)) > 1.1 * min(len(ta), len(tb)):
                continue
            if pa == pb and (a.lineno <= b.lineno <= a.end_lineno or b.lineno <= a.lineno <= b.end_lineno):
                continue
            sm = difflib.SequenceMatcher(None, ta, tb, autojunk=False)
            if sm.real_quick_ratio() >= 0.9 and sm.quick_ratio() >= 0.9 and sm.ratio() >= 0.9:
                twins.append(
                    f"{pa.relative_to(ROOT)}::{a.name} ~ {pb.relative_to(ROOT)}::{b.name} "
                    f"({sm.ratio():.2f})"
                )
    assert twins == [], "near-duplicate functions"


def _names_used(tree: ast.AST) -> list:
    """Every name ``tree`` loads, reads as an attribute or imports."""
    used = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            used.append(node.id)
        elif isinstance(node, ast.Attribute):
            used.append(node.attr)
        elif isinstance(node, ast.ImportFrom):
            used.extend(a.name for a in node.names)
    return used


def test_every_entry_name_is_used():
    """Every top-level function and constant of ``__spark_entry__.py`` is
    named somewhere: in the entry itself or in ``bench*.py``, ``jobs/``,
    ``tools/`` or ``tests/``.  A helper nothing names is dead code."""
    entry = ast.parse((ROOT / "__spark_entry__.py").read_text())
    defined = []
    for node in entry.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defined.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            defined.extend(t.id for t in targets if isinstance(t, ast.Name))
    used = set(_names_used(entry))
    for pattern in ["bench*.py", "jobs/*.py", "tools/*.py", "tests/*.py"]:
        for path in ROOT.glob(pattern):
            used.update(_names_used(ast.parse(path.read_text())))
    assert sorted(set(defined) - used) == [], "entry names nothing uses"
