"""Property-based kernel tests (SURVEY.md §5.2.3): random token layouts ->
structural invariants + determinism, across every layout."""

import hypothesis.strategies as st
from hypothesis import given, settings

from ocr_table_extractor_to_csv_spark.kernel import extract_document

token_st = st.tuples(
    st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x024F),
        min_size=0,
        max_size=8,
    ),
    st.integers(0, 1600),   # x1
    st.integers(0, 2100),   # y1
    st.integers(1, 90),     # width
    st.integers(1, 40),     # height
)


def _doc(tokens) -> bytes:
    words = "".join(
        f'<span class="ocrx_word" title="bbox {x} {y} {x + w} {y + h}">{t}</span>'
        for (t, x, y, w, h) in tokens
    )
    return (
        '<?xml version="1.0"?><html><body>'
        f'<div class="ocr_page" title="bbox 0 0 1700 2200">{words}</div>'
        "</body></html>"
    ).encode()


@settings(max_examples=60, deadline=None)
@given(st.lists(token_st, min_size=0, max_size=40))
def test_every_layout_total_and_deterministic(tokens):
    html = _doc(tokens)
    for layout in ("generic", "dynamic", "financial", "professional"):
        a = extract_document(html, layout=layout)
        b = extract_document(html, layout=layout)
        # deterministic byte-for-byte (task-retry safety)
        assert a.csv == b.csv and a.csv_numeric == b.csv_numeric
        assert a.main_text == b.main_text
        # structural invariants
        assert a.csv.startswith(b"\xef\xbb\xbf") or a.csv == b""
        if a.n_tokens == 0:
            assert a.csv == b"\xef\xbb\xbf"  # empty-doc byte rule
        assert a.n_lines <= max(a.n_tokens, 1)
        if layout == "financial" and a.n_tokens > 0:
            assert a.header == ["Cuenta", "Valor_1", "Valor_2"]
            # every body row has exactly 3 cells after postprocess
            text = a.csv.decode("utf-8-sig")
            for line in text.split("\r\n")[1:-1]:
                # naive comma count only valid without quoted cells
                if '"' not in line:
                    assert line.count(",") == 2


@settings(max_examples=30, deadline=None)
@given(st.lists(token_st, min_size=1, max_size=30), st.integers(1, 6))
def test_generic_expected_cols_coercion(tokens, k):
    res = extract_document(_doc(tokens), layout="generic", expected_n_cols=k)
    if res.n_tokens and res.n_cols:
        # coercion drives the grid to exactly k columns whenever any
        # interval survives (columns.py:51-70)
        assert res.n_cols == k


def test_scan_bbox_language_equals_parse_title_bbox():
    """The scan loop INLINES parse_title_bbox's fast path at two call
    sites for speed; this pins the accepted language to the function so
    the copies cannot silently drift (adversarial titles: fast-path hits,
    fast-path misses that the regex accepts, and rejects)."""
    from ocr_table_extractor_to_csv_spark.kernel.hocr import (
        parse_dom,
        parse_title_bbox,
        scan_tokens_from_dom,
    )

    titles = [
        "bbox 1 2 3 4",                      # fast path
        "bbox 10 20 30 40; x_wconf 96",      # suffix -> regex
        "image p.png; bbox 5 6 7 8",         # prefix -> regex
        "bbox  1 2 3 4",                     # double space -> regex
        "bbox 1 2 3",                        # too few -> None
        "bbox -1 2 3 4",                     # negative -> None
        "bbox 1 2 3 ²",                 # superscript two: isdecimal False -> None
        "bbox 01 002 3 4",                   # leading zeros -> ints
        "x_size 12",                         # no bbox -> None
        "bbox 1 2 3 4",                 # nbsp: split(' ') misses, java \s? regex decides
    ]
    words = "".join(
        f'<span class="ocrx_word" title="{t}">w{i}</span>'
        for i, t in enumerate(titles)
    )
    html = (
        '<?xml version="1.0"?><html><body>'
        f'<div class="ocr_page" title="bbox 0 0 100 100">{words}</div>'
        "</body></html>"
    ).encode()
    tok = scan_tokens_from_dom(parse_dom(html)[0])
    got = sorted(
        (int(x1), int(y1), int(x2), int(y2))
        for x1, y1, x2, y2 in zip(tok.x1, tok.y1, tok.x2, tok.y2)
    )
    want = sorted(bb for t in titles if (bb := parse_title_bbox(t)) is not None)
    assert got == want
