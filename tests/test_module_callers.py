"""Every package module, public function and option has a product caller.

A module counts as called when the import graph reaches it from a product
entry point: ``jobs/``, ``__spark_entry__.py``, ``bench.py`` or ``tools/``
(imports inside functions count, tests do not).  A module that only tests
import is dead code with a test attached: delete it, or give it a caller.
The same holds for a public package function no product code names, and
for a defaulted parameter no product call site sets (a constant).
"""

import ast
import difflib
import importlib
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


PRODUCT = ["__spark_entry__.py", "bench.py", "jobs/*.py", "tools/*.py", f"{PKG}/**/*.py"]

# Defaulted parameters no product call site sets, each kept on purpose.
OPTION_EXCEPTIONS = {
    # perfbench's tracer substitutes this factory and calls it positionally
    # with both arguments, so its signature is the benchmark's interface
    ("make_extract_fn", "default_args"),
    # perfbench's corpus builds its giant pages per benchmark seed
    ("generate_fixture", "seed"),
}


def _product_trees() -> list:
    paths = sorted({p for pattern in PRODUCT for p in ROOT.glob(pattern)})
    return [(p, ast.parse(p.read_text())) for p in paths]


def _option_functions() -> dict:
    """name -> [(FunctionDef, is_method, path)] for every function the
    package or ``__spark_entry__.py`` defines, nested ones included; a
    class's ``__init__`` is also listed under the class name."""
    found: dict = {}
    for path in [*(ROOT / PKG).rglob("*.py"), ROOT / "__spark_entry__.py"]:
        tree = ast.parse(path.read_text())
        for cls in ast.walk(tree):
            if isinstance(cls, ast.ClassDef):
                for fn in cls.body:
                    if isinstance(fn, ast.FunctionDef):
                        found.setdefault(fn.name, []).append((fn, True, path))
                        if fn.name == "__init__":
                            found.setdefault(cls.name, []).append((fn, True, path))
        methods = {id(fn) for fns in found.values() for fn, _, _ in fns}
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and id(fn) not in methods:
                found.setdefault(fn.name, []).append((fn, False, path))
    return found


def _defaults(fn: ast.FunctionDef) -> dict:
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {p.arg: d for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)}
    out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return out


_CONST_NODES = (
    ast.Constant, ast.Name, ast.Attribute, ast.UnaryOp, ast.BinOp, ast.Tuple,
    ast.Load, ast.operator, ast.unaryop,
)


def _globals_of(path: Path) -> dict:
    """The module-level names of the product file ``path``, as imported."""
    return vars(importlib.import_module(_name(path)))


def _value(node: ast.expr, env: dict):
    """``node``'s value when it is built only from literals, operators and
    names or attributes that ``env`` (a module's globals) binds; else
    ``None`` paired with False."""
    if all(isinstance(n, _CONST_NODES) for n in ast.walk(node)):
        try:
            return eval(compile(ast.Expression(node), "<option>", "eval"), dict(env)), True
        except (NameError, AttributeError):  # a local name, not a module constant
            pass
    return None, False


def _is_default(value: ast.expr, value_env: dict, default: ast.expr, default_env: dict) -> bool:
    """Whether a call passes the default's VALUE: names and attributes are
    resolved to the module constants they denote, so passing a constant
    equal to the default does not count as setting the option."""
    v, v_known = _value(value, value_env)
    d, d_known = _value(default, default_env)
    if v_known and d_known:
        return type(v) is type(d) and v == d
    return ast.dump(value) == ast.dump(default)


def test_every_option_is_set_by_a_product_caller():
    """A defaulted parameter of a package or ``__spark_entry__.py`` function
    that product code calls must be passed a non-default value at some
    product call site (the package, ``jobs/``, ``tools/``,
    ``__spark_entry__.py``, ``bench.py``): a value only the default ever
    takes is a module constant, not an option.  Values are compared, not
    spellings: a module constant passed where it equals the default sets
    nothing.  Calls resolve by name, so a same-named call anywhere counts;
    ``*args``/``**kwargs`` count as setting everything they could reach."""
    functions = _option_functions()
    called, passed = set(), set()
    for path, tree in _product_trees():
        env = _globals_of(path)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            for fn, is_method, fn_path in functions.get(name, []):
                called.add(fn)
                dfl = _defaults(fn)
                fn_env = _globals_of(fn_path)

                def is_default(arg, param):
                    return _is_default(arg, env, dfl[param], fn_env)

                pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
                if is_method and pos and pos[0] in ("self", "cls"):
                    pos = pos[1:]
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        passed.update((fn, p) for p in pos[i:])
                        break
                    if i < len(pos) and pos[i] in dfl and not is_default(arg, pos[i]):
                        passed.add((fn, pos[i]))
                for kw in call.keywords:
                    if kw.arg is None:
                        passed.update((fn, p) for p in dfl)
                    elif kw.arg in dfl and not is_default(kw.value, kw.arg):
                        passed.add((fn, kw.arg))
    unset = sorted(
        f"{fn.name}({p}=...) line {fn.lineno}"
        for fn in called
        for p in _defaults(fn)
        if (fn, p) not in passed and (fn.name, p) not in OPTION_EXCEPTIONS
    )
    assert unset == [], "options no product caller sets"


def test_every_public_package_function_is_named_by_product_code():
    """A public top-level function of the package that no product code
    names (calls, passes or imports) has no caller: delete it."""
    used = set()
    for _path, tree in _product_trees():
        used.update(_names_used(tree))
    unnamed = [
        f"{path.relative_to(ROOT)}::{fn.name}"
        for path in sorted((ROOT / PKG).rglob("*.py"))
        for fn in ast.parse(path.read_text()).body
        if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_") and fn.name not in used
    ]
    assert unnamed == [], "package functions no product code names"
