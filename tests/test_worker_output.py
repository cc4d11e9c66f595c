"""What the ``mapInArrow`` workers emit.

* ``session.arrow_batch`` equals ``pa.RecordBatch.from_arrays`` over
  ``pa.array`` for the three producer schemas (extraction, LayoutLM
  examples, WARC/WET segments);
* a fresh interpreter that runs each of the three worker functions never
  imports pandas;
* an error row records the layout the kernel dispatches.

In-process or in a subprocess, no Spark.
"""

import gzip
import json
import subprocess
import sys
import textwrap
from datetime import datetime, timezone
from pathlib import Path

import hypothesis.strategies as st
import pyarrow as pa
import pytest
from hypothesis import given, settings

from ocr_table_extractor_to_csv_spark.operators.dataset import _ARROW as EXAMPLE_ARROW
from ocr_table_extractor_to_csv_spark.operators.extract import (
    _ARROW_SCHEMA as EXTRACTED_ARROW,
    _extract_one,
    _parse_args,
)
from ocr_table_extractor_to_csv_spark.session import arrow_batch
from ocr_table_extractor_to_csv_spark.sources.fixtures import generate_fixture
from ocr_table_extractor_to_csv_spark.sources.pages import grid_hocr, grid_tokens
from ocr_table_extractor_to_csv_spark.sources.warc import _segment_batches, warc_record

ROOT = Path(__file__).resolve().parent.parent
SEGMENT_INPUT = pa.schema([("path", pa.string()), ("content", pa.binary())])


def _segment_schema(payload: pa.Field) -> pa.Schema:
    """The output schema of a WARC/WET segment worker (its zero-row batch)."""
    empty = pa.RecordBatch.from_arrays([pa.array([], f.type) for f in SEGMENT_INPUT], schema=SEGMENT_INPUT)
    return next(_segment_batches("response", payload, bytes)([empty])).schema


SCHEMAS = {
    "extracted": EXTRACTED_ARROW,
    "examples": EXAMPLE_ARROW,
    "warc": _segment_schema(pa.field("html", pa.binary())),
    "wet": _segment_schema(pa.field("text", pa.string())),
}

UTC = timezone.utc


def _reference(columns, schema: pa.Schema) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays([pa.array(c, f.type) for c, f in zip(columns, schema)], schema=schema)


def _assert_same(columns, schema: pa.Schema):
    got = arrow_batch(columns, schema)
    got.validate(full=True)
    want = _reference(columns, schema)
    assert got.schema == schema
    assert got.equals(want)
    assert got.to_pylist() == want.to_pylist()


def _edge(typ: pa.DataType) -> list:
    """Four values of ``typ``: None first, then its empty and extreme values
    (non-ASCII text, NUL, int32 bounds, far timestamps, empty and NULL
    inner lists)."""
    if pa.types.is_list(typ):
        inner = _edge(typ.value_type)
        return [None, [], inner, inner[::-1] + [inner[1]]]
    if pa.types.is_string(typ):
        return [None, "", "año €𝄞", "a\x00b"]
    if pa.types.is_binary(typ):
        return [None, b"", b"\x00\xff", "ñ".encode()]
    if pa.types.is_int32(typ):
        return [None, 0, -(2**31), 2**31 - 1]
    if pa.types.is_boolean(typ):
        return [None, True, False, True]
    assert pa.types.is_timestamp(typ)
    return [
        None,
        datetime(1970, 1, 1, tzinfo=UTC),
        datetime(1, 1, 1, tzinfo=UTC),
        datetime(9999, 12, 31, 23, 59, 59, 999999, tzinfo=UTC),
    ]


@pytest.mark.parametrize("name", sorted(SCHEMAS))
@pytest.mark.parametrize("shift", range(4))
def test_edge_values_in_every_position(name, shift):
    """Each column's edge values, rotated so None lands in every row; plus
    a row of all None and a zero-row batch."""
    schema = SCHEMAS[name]
    columns = [(_edge(f.type) * 2)[shift : shift + 4] + [None] for f in schema]
    _assert_same(columns, schema)
    _assert_same([[] for _ in schema], schema)


def _values(typ: pa.DataType):
    if pa.types.is_list(typ):
        base = st.lists(_values(typ.value_type), max_size=4)
    elif pa.types.is_string(typ):
        base = st.text(max_size=8)
    elif pa.types.is_binary(typ):
        base = st.binary(max_size=8)
    elif pa.types.is_int32(typ):
        base = st.integers(-(2**31), 2**31 - 1)
    elif pa.types.is_boolean(typ):
        base = st.booleans()
    else:
        base = st.datetimes(timezones=st.just(UTC))
    return st.none() | base


@st.composite
def _columns(draw, schema: pa.Schema):
    n = draw(st.integers(0, 5))
    return [draw(st.lists(_values(f.type), min_size=n, max_size=n)) for f in schema]


@pytest.mark.parametrize("name", sorted(SCHEMAS))
@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_arrow_batch_matches_pa_array(name, data):
    schema = SCHEMAS[name]
    _assert_same(data.draw(_columns(schema)), schema)


@pytest.mark.parametrize("value", [2**31, -(2**31) - 1])
def test_int32_out_of_range_raises(value):
    """An out-of-range int32 raises instead of wrapping, flat or nested."""
    flat = pa.schema([("n", pa.int32())])
    nested = pa.schema([("b", pa.list_(pa.list_(pa.int32())))])
    with pytest.raises(OverflowError):
        arrow_batch([[1, value]], flat)
    with pytest.raises(OverflowError):
        arrow_batch([[[[0], [value]]]], nested)


def test_column_count_and_types_are_checked():
    with pytest.raises(ValueError, match="2 columns for 1 fields"):
        arrow_batch([[1], [2]], pa.schema([("n", pa.int32())]))
    with pytest.raises(TypeError, match="unsupported type int64"):
        arrow_batch([[1]], pa.schema([("n", pa.int64())]))


def test_args_error_row_records_the_dispatched_layout():
    res = _extract_one(b"<html/>", None, _parse_args("[1]"))
    assert res.error == "args: TypeError: expected a JSON object, got list"
    assert res.layout == "auto"
    assert _extract_one(b"<html/>", "dynamic", _parse_args("{bad")).layout == "dynamic"


def test_kernel_error_row_records_the_dispatched_layout():
    """A word box beyond int64 fails the document in the kernel."""
    html = (
        '<html><body><div class="ocr_page" title="bbox 0 0 100 100">'
        '<span class="ocrx_word" title="bbox 1 2 3 9999999999999999999">a</span>'
        "</div></body></html>"
    ).encode()
    for layout, recorded in ((None, "auto"), ("", "auto"), ("generic", "generic")):
        res = _extract_one(html, layout, {})
        assert res.error.startswith("OverflowError: ")
        assert res.layout == recorded


# ---------------------------------------------------------------------------
# The tentpole property: a worker that runs a map stage's function never
# imports pandas.  The probe runs in a fresh interpreter, as a Python worker
# does, over batches read back from Arrow IPC files.

_PROBE = textwrap.dedent(
    """
    import json, sys
    import pyarrow as pa
    from ocr_table_extractor_to_csv_spark.operators.dataset import _example_batches
    from ocr_table_extractor_to_csv_spark.operators.extract import make_extract_fn
    from ocr_table_extractor_to_csv_spark.session import worker_batches
    from ocr_table_extractor_to_csv_spark.sources.warc import _segment_batches

    workers = {
        "extract": make_extract_fn("auto"),
        "examples": _example_batches(None, None, None, 6),
        "warc": _segment_batches("response", pa.field("html", pa.binary()), bytes),
        "wet": _segment_batches(
            "conversion", pa.field("text", pa.string()), lambda b: b.decode("utf-8", "replace")
        ),
    }
    report = {"pandas_before": "pandas" in sys.modules}
    for name, path in json.loads(sys.argv[1]).items():
        with pa.OSFile(path, "rb") as f:
            reader = pa.ipc.open_file(f)
            batches = [reader.get_batch(i) for i in range(reader.num_record_batches)]
        out = list(worker_batches(workers[name])(iter(batches)))
        report[name] = {
            "rows": sum(b.num_rows for b in out),
            "errors": sum(b.num_rows - b.column("error").null_count for b in out),
            "pandas": "pandas" in sys.modules,
        }
    # the probe can see pandas: pa.array loads it
    pa.array([1])
    report["pandas_after_pa_array"] = "pandas" in sys.modules
    print(json.dumps(report))
    """
)


def _write_ipc(path: Path, batches) -> str:
    with pa.OSFile(str(path), "wb") as f, pa.ipc.new_file(f, batches[0].schema) as w:
        for b in batches:
            w.write_batch(b)
    return str(path)


def _segments(blob: bytes) -> pa.RecordBatch:
    """A gzip segment holding ``blob`` and a file that is no WARC."""
    return pa.RecordBatch.from_pylist(
        [{"path": "seg.gz", "content": gzip.compress(blob)}, {"path": "bad", "content": b"junk"}],
        schema=SEGMENT_INPUT,
    )


def test_workers_never_import_pandas(tmp_path):
    pages = [generate_fixture(fam, 0) for fam in ("generic4", "fin3", "dyn", "pro")]
    giant = grid_hocr(grid_tokens("alpha beta gamma delta epsilon zeta eta theta"))
    extract_in = pa.RecordBatch.from_pylist(
        [{"url": p["url"], "html": p["html"], "layout": p["layout"], "args": p["args"]} for p in pages]
        + [
            {"url": "u:null-layout", "html": b"<p>text</p>", "layout": None, "args": None},
            {"url": "u:bad-args", "html": b"<html/>", "layout": None, "args": "[1]"},
        ]
    )
    examples_in = pa.RecordBatch.from_pylist(
        [{"url": "u:grid", "html": giant}, {"url": "u:text", "html": b"<p>not hocr</p>"}]
    )
    ts = "2025-01-01T00:00:00Z"
    warc = warc_record("u:warc", ts, giant) + warc_record("u:req", ts, b"GET", warc_type="request")
    wet = warc_record("u:wet", ts, "texto ñ".encode(), warc_type="conversion", http=False)
    inputs = {
        "extract": _write_ipc(tmp_path / "extract.arrow", [extract_in, extract_in.slice(0, 0)]),
        "examples": _write_ipc(tmp_path / "examples.arrow", [examples_in]),
        "warc": _write_ipc(tmp_path / "warc.arrow", [_segments(warc)]),
        "wet": _write_ipc(tmp_path / "wet.arrow", [_segments(wet)]),
    }
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, json.dumps(inputs)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    report = json.loads(proc.stdout.splitlines()[-1])
    assert report.pop("pandas_before") is False
    assert report.pop("pandas_after_pa_array") is True
    assert report == {
        "extract": {"rows": 6, "errors": 1, "pandas": False},
        "examples": {"rows": 2, "errors": 1, "pandas": False},
        "warc": {"rows": 2, "errors": 1, "pandas": False},
        "wet": {"rows": 2, "errors": 1, "pandas": False},
    }
