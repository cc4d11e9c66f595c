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


def _body(fn: ast.FunctionDef) -> list:
    """``fn``'s statements without its docstring."""
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]
    return body


def _body_tokens(fn: ast.FunctionDef) -> list:
    """The tokens of ``fn``'s body without its docstring, as ``ast.unparse``
    prints it (so formatting and comments do not count)."""
    return re.findall(r"\w+|[^\w\s]", "\n".join(ast.unparse(s) for s in _body(fn)))


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

# Defaulted parameters no product call site sets, or that product code
# sets to one value only, each kept on purpose.
OPTION_EXCEPTIONS = {
    # perfbench's tracer substitutes this factory and calls it positionally
    # with both arguments, so its signature is the benchmark's interface
    ("make_extract_fn", "default_args"),
    # perfbench's corpus builds its giant pages per benchmark seed
    ("generate_fixture", "seed"),
    # bench.py, the benchmark's own script, is its one product caller; the
    # Spark extraction tests build smaller giants
    ("fixture_pages", "giant_tokens"),
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


_DEFAULT = object()  # a call site that leaves (or restates) the default


def _site_value(value: ast.expr, value_env: dict, default: ast.expr, default_env: dict):
    """What one call site passes: ``_DEFAULT``, the repr (a ``str``) of a
    value built from constants, or else an object of its own."""
    if _is_default(value, value_env, default, default_env):
        return _DEFAULT
    v, known = _value(value, value_env)
    return repr(v) if known else object()


def _option_sites() -> dict:
    """(function, defaulted parameter) -> what each product call site
    (the package, ``jobs/``, ``tools/``, ``__spark_entry__.py``,
    ``bench.py``) passes it, for every package or ``__spark_entry__.py``
    function that product code calls.  Calls resolve by name, so a
    same-named call anywhere counts; ``*args``/``**kwargs`` pass an
    unknown value to everything they could reach."""
    functions = _option_functions()
    sites: dict = {}
    for path, tree in _product_trees():
        env = _globals_of(path)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            for fn, is_method, fn_path in functions.get(name, []):
                dfl = _defaults(fn)
                fn_env = _globals_of(fn_path)
                pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
                if is_method and pos and pos[0] in ("self", "cls"):
                    pos = pos[1:]
                given = {}
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        given.update((p, object()) for p in pos[i:])
                        break
                    if i < len(pos) and pos[i] in dfl:
                        given[pos[i]] = _site_value(arg, env, dfl[pos[i]], fn_env)
                for kw in call.keywords:
                    if kw.arg is None:
                        given.update((p, object()) for p in dfl)
                    elif kw.arg in dfl:
                        given[kw.arg] = _site_value(kw.value, env, dfl[kw.arg], fn_env)
                for p in dfl:
                    sites.setdefault((fn, p), []).append(given.get(p, _DEFAULT))
    return sites


def test_every_option_is_set_by_a_product_caller():
    """A defaulted parameter of a package or ``__spark_entry__.py`` function
    that product code calls must be passed a non-default value at some
    product call site: a value only the default ever takes is a module
    constant, not an option.  Values are compared, not spellings: a module
    constant passed where it equals the default sets nothing."""
    unset = sorted(
        f"{fn.name}({p}=...) line {fn.lineno}"
        for (fn, p), values in _option_sites().items()
        if all(v is _DEFAULT for v in values) and (fn.name, p) not in OPTION_EXCEPTIONS
    )
    assert unset == [], "options no product caller sets"


def test_no_option_takes_one_product_value():
    """The converse: a defaulted parameter whose default no product call
    site uses, and which every product call site sets to the same value,
    is that value spelled at its callers — a module constant, not an
    option (tests set other values with monkeypatch).  A value not built
    from constants could be any, so a site passing one clears the check."""
    single = sorted(
        f"{fn.name}({p}=...) line {fn.lineno}"
        for (fn, p), values in _option_sites().items()
        if all(isinstance(v, str) for v in values)
        and len(set(values)) == 1
        and (fn.name, p) not in OPTION_EXCEPTIONS
    )
    assert single == [], "options product code sets to one value only"


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


# The md5-integer hash spec, each spelling with the one function that may
# spell it: the engine's column helper, its driver-side twin, and the
# oracles' SQL builder (the oracles do not import the engine helpers).
_HASH_SPELLINGS = [
    (r"conv\(\s*(?:F\.)?substring\(\s*(?:F\.)?md5\(", PKG, "md5_int_col"),
    (r"int\(\s*hashlib\.md5\(", PKG, "md5_int"),
    (r"'0x'\s*\|\|\s*substr\(\s*md5\(", "__spark_entry__.py", "_md5_int_sql"),
]


def test_one_spelling_of_the_md5_integer():
    """No package module spells the md5-prefix integer outside
    ``textstats.md5_int_col``/``md5_int``, and no oracle outside
    ``_md5_int_sql``; each helper spells it exactly once."""
    outside, in_owner = [], {}
    for pattern, where, owner in _HASH_SPELLINGS:
        root = ROOT / where
        for path in sorted(root.rglob("*.py")) if root.is_dir() else [root]:
            text = path.read_text()
            spans = [
                range(f.lineno, f.end_lineno + 1)
                for f in ast.walk(ast.parse(text))
                if isinstance(f, ast.FunctionDef) and f.name == owner
            ]
            for m in re.finditer(pattern, text, flags=re.I):
                line = text.count("\n", 0, m.start()) + 1
                if any(line in s for s in spans):
                    in_owner[owner] = in_owner.get(owner, 0) + 1
                else:
                    outside.append(f"{path.relative_to(ROOT)}:{line}")
    assert outside == [], "md5-integer spellings outside their helper"
    assert in_owner == {owner: 1 for _, _, owner in _HASH_SPELLINGS}


def test_no_unused_imports():
    """Every name a product file imports is used in that file.  An unused
    import hides dead code from the checks above (an import counts as a
    use); a deliberate re-export says so with ``# noqa: F401``."""
    unused = []
    for path, tree in _product_trees():
        lines = path.read_text().splitlines()
        bound = {}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if "noqa: F401" in lines[node.lineno - 1] or getattr(node, "module", "") == "__future__":
                continue
            for a in node.names:
                # ``import a.b`` binds ``a``
                name = a.asname or (a.name.split(".")[0] if isinstance(node, ast.Import) else a.name)
                bound[name] = node.lineno
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        unused += [
            f"{path.relative_to(ROOT)}:{line} {name}"
            for name, line in bound.items()
            if name not in used
        ]
    assert sorted(unused) == [], "unused imports"


# possessive quantifiers and atomic groups: ``re`` rejects them before
# CPython 3.11, and the deployment targets include 3.10
_RE_311_ONLY = re.compile(r"[*+?}]\+|\(\?>")


def test_no_python_regex_needs_311():
    found = [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path, tree in _product_trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "re"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
        and _RE_311_ONLY.search(node.args[0].value)
    ]
    assert found == [], "regexes CPython 3.10 cannot compile"


# the modules a map stage's Python worker imports and runs
_WORKER_SIDE = ["kernel/*.py", "session.py", "operators/extract.py", "operators/dataset.py", "sources/warc.py"]


def _loads_pandas(node: ast.AST) -> bool:
    """``node`` imports pandas, or calls a pyarrow constructor that imports
    it on its first call (``pa.array``, ``pa.table``, ``*.from_pylist``,
    ``*.from_pydict``)."""
    if isinstance(node, ast.Import):
        return any(a.name.split(".")[0] == "pandas" for a in node.names)
    if isinstance(node, ast.ImportFrom):
        return (node.module or "").split(".")[0] == "pandas"
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return False
    attr = node.func.attr
    on_pyarrow = isinstance(node.func.value, ast.Name) and node.func.value.id in ("pa", "pyarrow")
    return attr in ("from_pylist", "from_pydict") or (on_pyarrow and attr in ("array", "table"))


def test_worker_side_modules_never_load_pandas():
    """A worker that loads pandas holds about 37 MB more: the map stages
    build their output with ``session.arrow_batch``."""
    paths = sorted({p for pattern in _WORKER_SIDE for p in (ROOT / PKG).glob(pattern)})
    assert len(paths) > len(_WORKER_SIDE), "no kernel modules found: the scan is broken"
    found = [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path in paths
        for node in ast.walk(ast.parse(path.read_text()))
        if _loads_pandas(node)
    ]
    assert found == [], "worker-side code that imports pandas"


_LOADERS = {"_docs", "_docs_f", "_emb", "_emb_f"}


def _called(node: ast.AST) -> str | None:
    """The name a call ``node`` calls, if it is a call of a plain name."""
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
        return node.func.id
    return None


def test_no_query_wrapper_functions():
    """No ``q_`` function of ``__spark_entry__.py`` only forwards: a body
    (docstring aside) that is one ``return`` of one call on a loader call
    (``_docs``, ``_docs_f``, ``_emb``, ``_emb_f``) or on ``_extract_kinds(...)``
    belongs in its registry row, which names the loader and the operator."""
    entry = ast.parse((ROOT / "__spark_entry__.py").read_text())
    wrappers = []
    for fn in entry.body:
        if not (isinstance(fn, ast.FunctionDef) and fn.name.startswith("q_")):
            continue
        body = _body(fn)
        if len(body) != 1 or not isinstance(body[0], ast.Return):
            continue
        call = body[0].value
        if not isinstance(call, ast.Call):
            continue
        on_loader = any(_called(a) in _LOADERS for a in call.args)
        on_extract = isinstance(call.func, ast.Attribute) and _called(call.func.value) == "_extract_kinds"
        if on_loader or on_extract:
            wrappers.append(fn.name)
    assert wrappers == [], "query functions that only forward to an operator"


def test_kernel_tracer_wraps_the_kernel_names():
    """perfbench's ``KernelTrace`` wraps kernel stages by name; a renamed
    stage would crash ``perfbench/run.py --trace 1`` and
    ``tools/kernel_ab.py``.  Installed, it times the layout of a generic
    and a professional extraction; undone, it restores every name."""
    from perfbench.trace_worker import LAYOUT_FNS, KernelTrace

    from ocr_table_extractor_to_csv_spark.kernel import extract as kx
    from ocr_table_extractor_to_csv_spark.sources.fixtures import generate_fixture

    before = {name: getattr(kx, name) for name in LAYOUT_FNS}
    trace = KernelTrace()
    undo = trace.install()
    try:
        for layout in ("generic", "professional"):
            kx.extract_document(generate_fixture("generic4", 0)["html"], layout=layout)
    finally:
        undo()
    assert trace.self_s["layout"] > 0
    assert {name: getattr(kx, name) for name in LAYOUT_FNS} == before
