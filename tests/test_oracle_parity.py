"""Pre-verify the driver's correctness gate: each queries() entry must match
its oracle_sql() twin on the sf0.01 test tables (row count + schema-ish +
value multiset).  This is the same comparison the driver runs, done locally
so regressions never reach CORRECTNESS_r{N}.json.

An oracle must also read every value it shares with its query from the
package constant the query reads, so that a constant changed alone moves
both sides: ``test_every_constant_moves_an_oracle`` perturbs each numeric
package constant and requires some ``oracle_sql()`` string to change, and
``test_parity_under_a_moved_constant`` re-runs three parity checks with a
constant moved."""

import ast
import importlib
import importlib.util
import math
import os
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry_mod
from ocr_table_extractor_to_csv_spark.operators import curation, textstats

ROOT = Path(__file__).resolve().parent.parent
PKG = "ocr_table_extractor_to_csv_spark"

# override with SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.1 for the 10x sweep
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = Path(SF_DIR) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = f"{round(v, 6):.6f}"
            elif v is None:
                v = "NULL"
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out)


def _type_kind(t: str) -> str:
    """Coarse type family: the driver's value-hash is typed, so e.g. a DuckDB
    HUGEINT sum vs a Spark BIGINT hash-mismatches even when values agree
    (the round-1 simhash red row).  Catch that drift locally."""
    t = t.lower()
    if "hugeint" in t:
        return "int128"
    if any(k in t for k in ("tinyint", "smallint", "bigint", "int", "long")):
        return "int"
    if any(k in t for k in ("float", "double", "real", "decimal")):
        return "float"
    if "bool" in t:
        return "bool"
    if any(k in t for k in ("varchar", "char", "string", "text")):
        return "str"
    return t


def assert_gate_shape(sdf, name):
    """The external driver canonicalizes results with pandas.sort_values,
    which cannot sort list/dict-valued cells (the r5 `embedding_quantize`
    red row: ARRAY<INT> -> 'unhashable type: list').  No registry query
    may emit array/map/struct columns — serialize them (array_join /
    to_json) in the driver row, keep rich types for library callers."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: nested-type output columns {bad} break the external "
        "gate's pandas canonicalizer — serialize them in the driver row"
    )


def assert_parity(spark, ddb, name, q, sql):
    """Query ``q`` and oracle ``sql`` agree on columns, type families, row
    count and the normalized value multiset."""
    sdf = q(spark, SF_DIR)
    assert_gate_shape(sdf, name)
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = sdf.columns
    s_types = {c: _type_kind(t) for c, t in sdf.dtypes}

    rel = ddb.sql(sql)
    d_cols = list(rel.columns)
    d_types = {c: _type_kind(str(t)) for c, t in zip(d_cols, rel.types)}
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    for c in s_cols:
        assert s_types[c] == d_types.get(c), (
            f"{name}.{c}: type family differs (spark {s_types[c]} vs oracle "
            f"{d_types.get(c)}) — the driver's typed value-hash will mismatch"
        )
    assert len(s_rows) == len(d_rows), f"{name}: row counts {len(s_rows)} vs {len(d_rows)}"
    sn = normalize(s_rows, s_cols)
    dn = normalize(d_rows, d_cols)
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_query_matches_oracle(spark, ddb, name):
    assert_parity(spark, ddb, name, entry_mod.queries()[name], entry_mod.oracle_sql()[name])


def test_queries_and_oracles_key_identical():
    """r4 verdict #1 insurance: EVERY queries() entry must carry an oracle
    (and vice versa) — a key drift would silently demote a query to the
    weaker rows-only check in the driver's sweep."""
    q = set(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    assert q == o, f"only in queries: {sorted(q - o)}; only in oracles: {sorted(o - q)}"


def test_rows_only_queries_run(spark):
    oracles = set(entry_mod.oracle_sql())
    for name, q in entry_mod.queries().items():
        if name in oracles:
            continue
        df = q(spark, SF_DIR)
        assert_gate_shape(df, name)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "n_rows", "n_cols", "csv_md5", "text_md5"}


def _rebuilt_entry():
    """A fresh execution of ``__spark_entry__.py`` (not the imported module,
    which keeps the oracles it built at import), so its oracles are built
    from the package constants as they are now."""
    spec = importlib.util.spec_from_file_location("_entry_rebuilt", ROOT / "__spark_entry__.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


# Package constants no query result depends on, each with its reason (a
# dotted module names all of that module's constants).  Every other numeric
# constant must move some oracle_sql() string when it changes.
_GEOMETRY = (
    "layout geometry: the synthesized pages sit far from every threshold "
    "(gutters >= 204 px, row gaps 26 px) and the byte goldens pin it"
)
ENGINE_ONLY = {
    "kernel.boilerplate.MAX_LINK_DENSITY": "link-density cut; the boiler pages' paragraphs hold no links",
    "kernel.extract.MAX_MODEL_COLUMNS": "transformers column target when none is given; the tf pages give one",
    "kernel.layouts": _GEOMETRY,
    "kernel.professional": _GEOMETRY,
    "operators.curation.DECONTAMINATE_MAX_BROADCAST_SHINGLES": "join strategy (broadcast or shuffle); same rows",
    "operators.dedup.CC_MAX_ITER": "convergence bound: past it the iteration raises, it never changes a label",
    "operators.sketches.KMV_SALT_MOD": "skew salt of the two-phase min-k; the same k minima for any salt",
    "plans.lineage.FAILED_SAMPLE": "manifest failed-url sample; no query reads manifests",
    "plans.partitioning.GIANT_THRESHOLD": (
        "the extract job's default giant cut; giants_resume passes its own, and "
        "either pass extracts a page to the same bytes"
    ),
    "sources.fixtures": "the fixture corpus feeds the byte goldens, not the queries",
    "sources.pages.TOKEN_H": _GEOMETRY,
    "sources.pages.ROW_PITCH": _GEOMETRY,
    "sources.pages.Y0": _GEOMETRY,
    "sources.pages.ANCHORS": _GEOMETRY,
    "sources.pages.VALUE_X": _GEOMETRY,
    "sources.pages.DYN_ANCHORS": (
        "values center on their anchor wherever it sits; DYN_LEADER_TO, derived "
        "from the first anchor at import, moves the dyn oracle itself"
    ),
    "sources.pages.ARGS_CROP_BBOX": "any box that keeps the grid and cuts the noise row crops the same",
    "sources.pages.ARGS_NOISE_Y": "the crop drops the noise row at any height above the crop box",
    "sources.warc.N_SEGMENTS": "segment files per synthesized corpus; the reader yields the same records",
}


def _is_number(x) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def _numeric_leaves(value, key=()):
    """(key path, number) for every numeric leaf of a module constant: the
    number itself, or each number inside its (nested) tuples and dict
    values, also next to non-numeric fields (the min-token field of each
    ``pages.KINDS`` row)."""
    if _is_number(value):
        yield key, value
    elif isinstance(value, (tuple, dict)):
        items = value.items() if isinstance(value, dict) else enumerate(value)
        for k, v in items:
            yield from _numeric_leaves(v, key + (k,))


def _replace(value, key, new):
    if not key:
        return new
    if isinstance(value, tuple):
        return tuple(_replace(v, key[1:], new) if i == key[0] else v for i, v in enumerate(value))
    return {k: _replace(v, key[1:], new) if k == key[0] else v for k, v in value.items()}


def _package_constants():
    """(module, dotted name, constant name) for every module-level constant
    (an upper-case name, tuple targets included) the package assigns."""
    for path in sorted((ROOT / PKG).rglob("*.py")):
        dotted = ".".join(path.relative_to(ROOT / PKG).with_suffix("").parts)
        module = importlib.import_module(f"{PKG}.{dotted}".removesuffix(".__init__"))
        for node in ast.parse(path.read_text()).body:
            targets = node.targets if isinstance(node, ast.Assign) else (
                [node.target] if isinstance(node, ast.AnnAssign) else []
            )
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and n.id.lstrip("_").isupper():
                        yield module, dotted, n.id


def test_every_constant_moves_an_oracle(monkeypatch):
    """Changing any numeric package constant (each int/float leaf, also in a
    tuple or dict constant such as ``SAMPLE_RATES`` or ``KINDS``) changes at least one
    ``oracle_sql()`` string, unless ``ENGINE_ONLY`` names it with a reason;
    an ``ENGINE_ONLY`` constant must move none."""
    base = _rebuilt_entry().oracle_sql()
    unmoved, exempt_but_moved, seen = [], [], set()
    for module, dotted, name in _package_constants():
        value = getattr(module, name)
        exempt = dotted in ENGINE_ONLY or f"{dotted}.{name}" in ENGINE_ONLY
        for key, x in _numeric_leaves(value):
            seen.update({dotted, f"{dotted}.{name}"})
            new = x + 1 if isinstance(x, int) else x + 0.125
            with monkeypatch.context() as m:
                m.setattr(module, name, _replace(value, key, new))
                moved = _rebuilt_entry().oracle_sql() != base
            label = f"{dotted}.{name}" + "".join(f"[{k!r}]" for k in key)
            if moved and exempt:
                exempt_but_moved.append(label)
            elif not moved and not exempt:
                unmoved.append(label)
    assert sorted(set(ENGINE_ONLY) - seen) == [], "ENGINE_ONLY names no numeric constant"
    assert exempt_but_moved == [], "ENGINE_ONLY constants that an oracle reads"
    assert unmoved == [], "constants no oracle reads"


@pytest.mark.parametrize(
    "name, module, const, value",
    [
        ("gopher_rules", textstats, "GOPHER_MIN_WORDS", 40),
        ("pack_sequences", curation, "PACK_BUDGET", 1000),
        ("decontaminate", curation, "DECONTAMINATE_EVAL_MOD", 89),
    ],
)
def test_parity_under_a_moved_constant(spark, ddb, monkeypatch, name, module, const, value):
    """A constant the query reads on the driver, moved alone, moves its
    oracle with it: parity holds at the new value."""
    monkeypatch.setattr(module, const, value)
    entry = _rebuilt_entry()
    try:
        sql = entry.oracle_sql()[name]
        assert sql != entry_mod.oracle_sql()[name], f"{name}: the oracle ignores {const}"
        assert_parity(spark, ddb, name, entry.queries()[name], sql)
    finally:
        for scope in entry._SCOPES.values():
            scope.close()
