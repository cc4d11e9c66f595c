"""Byte-exact export semantics (reference exporters.py:7-48, main.py:40-44).

Expected bytes below were verified experimentally against the reference's
exporter logic (csv.writer + utf-8-sig open), since bs4/lxml are absent in
this environment and the reference itself cannot run.
"""

from ocr_table_extractor_to_csv_spark.kernel.export import (
    BOM_ONLY,
    csv_bytes,
    csv_bytes_numeric,
    empty_csv_bytes,
    to_number,
)


def test_bom_and_crlf():
    out = csv_bytes([["1", "2", "3"]], ["a", "b,c", 'd"e'])
    assert out == b'\xef\xbb\xbfa,"b,c","d""e"\r\n1,2,3\r\n'


def test_empty_variants():
    # rows_to_csv([], [], ...) -> 0 bytes (layout_professional.py:29-30 path)
    assert csv_bytes([], []) == b""
    # _write_empty_csv -> BOM-only 3 bytes (main.py:40-44)
    assert empty_csv_bytes() == BOM_ONLY == b"\xef\xbb\xbf"


def test_header_only():
    assert csv_bytes([], ["h1", "h2"]) == b"\xef\xbb\xbfh1,h2\r\n"


def test_rows_no_header():
    assert csv_bytes([["x"]], []) == b"\xef\xbb\xbfx\r\n"


def test_to_number_table():
    # pinned cases, incl. the ')' quirk: "(57,519)" survives unchanged
    cases = {
        "(57,519)": "(57,519)",
        "$ 101,606": "101606",
        "1,234.50": "1234.5",
        "-": "0",
        "": "",
        "$": "",
        "(1,234.50)": "(1,234.50)",
        "1 234 567": "1234567",
        "246": "246",
        "abc": "",
        "12)3": "12)3",
        "3.14159": "3.14159",
        "-5": "-5",
        None: "",
        "  42  ": "42",
        # float() overflows to +-inf: the original text survives
        "9" * 309: "9" * 309,
        "-" + "9" * 400: "-" + "9" * 400,
    }
    for raw, want in cases.items():
        assert to_number(raw) == want, (raw, to_number(raw), want)


def test_csv_numeric_label_preserved():
    out = csv_bytes_numeric([["Cuenta X", "$1,234", "-"]], ["Cuenta", "V1", "V2"])
    assert out == b"\xef\xbb\xbfCuenta,V1,V2\r\nCuenta X,1234,0\r\n"
