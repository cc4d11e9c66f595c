"""End-to-end kernel tests on tiny hand-computed documents.

Every expected CSV below was derived by hand from the reference's algorithm
definitions (file:line cited inline), giving byte-level pins that are
independent of the kernel implementation.
"""

import pytest

from ocr_table_extractor_to_csv_spark.kernel import extract_document
from ocr_table_extractor_to_csv_spark.kernel.hocr import parse_dom, scan_tokens_from_dom
from ocr_table_extractor_to_csv_spark.kernel.lines import build_lines


def _scan_tokens(html: bytes, table_bbox=None):
    """The kernel's token scan of one hOCR document."""
    return scan_tokens_from_dom(parse_dom(html)[0], table_bbox)


def _doc(words, page_attr='title="bbox 0 0 1700 2200"'):
    spans = "".join(
        f'<span class="ocrx_word" title="bbox {x1} {y1} {x2} {y2}">{t}</span>'
        for (t, x1, y1, x2, y2) in words
    )
    return f'<?xml version="1.0"?><html><body><div class="ocr_page" {page_attr}>{spans}</div></body></html>'.encode()


def test_generic_two_by_two():
    html = _doc(
        [
            ("Name", 100, 100, 150, 130),
            ("Val", 400, 100, 440, 130),
            ("foo", 100, 160, 130, 190),
            ("9", 400, 160, 410, 190),
        ]
    )
    res = extract_document(html, layout="generic")
    # x-profile zero run 150..399 -> cut 274; y-profile cut 144
    # header = first row (rows.py:146)
    assert res.csv == b"\xef\xbb\xbfName,Val\r\nfoo,9\r\n"
    assert res.header == ["Name", "Val"]
    assert res.n_rows == 1 and res.n_cols == 2
    assert res.main_text == "Name Val\nfoo 9"


def test_financial_label_value_merge():
    html = _doc(
        [
            ("Activo", 100, 100, 160, 130),
            ("Caja", 100, 160, 140, 190),
            ("1,234", 400, 160, 450, 190),
            ("(56)", 600, 160, 640, 190),
        ]
    )
    res = extract_document(html, layout="financial")
    # label-only line merges into the following value line
    # (rows.py:83-134: gap 30 <= int(1.3*30)=39, cur_num==0, next num>0)
    assert res.csv == b'\xef\xbb\xbfCuenta,Valor_1,Valor_2\r\nActivo Caja,"1,234",(56)\r\n'


def test_financial_postprocess_rules():
    html = _doc(
        [
            # section line (ends with ':')
            ("Pasivos:", 100, 100, 180, 130),
            # ordinary row with a '-' value -> normalized to 0
            ("Deuda", 100, 300, 150, 330),
            ("-", 500, 300, 509, 330),
            ("245", 700, 300, 727, 330),
            # subtotal row: two numbers, no label -> "Total Pasivos"
            ("1,000", 500, 500, 545, 530),
            ("2,000", 700, 500, 745, 530),
            # footer -> dropped
            ("las", 100, 700, 127, 730),
            ("notas", 140, 700, 185, 730),
            ("adjuntas", 200, 700, 272, 730),
        ]
    )
    res = extract_document(html, layout="financial")
    body = res.csv.decode("utf-8-sig").split("\r\n")
    assert body[0] == "Cuenta,Valor_1,Valor_2"
    assert body[1] == "Pasivos:,,"
    assert body[2] == "Deuda,0,245"
    assert body[3] == 'Total Pasivos,"1,000","2,000"'
    assert body[4] == ""  # trailing CRLF


def test_professional_hierarchy_and_truncation():
    html = _doc(
        [
            ("Parent", 40, 100, 94, 130),
            ("item", 120, 160, 156, 190),
            ("77", 500, 160, 518, 190),
        ]
    )
    res = extract_document(html, layout="professional")
    # hand-derived: 3 chained intervals, hierarchy depth 1, header = first
    # hier row ["Parent","",""], body row prefixed + truncated to 3 cols
    assert res.csv == b"\xef\xbb\xbf,,\r\nParent,,item\r\n"


def test_empty_variants_byte_semantics():
    # page with zero words -> BOM-only (main.py:100-103)
    empty = b'<?xml version="1.0"?><html><body><div class="ocr_page" title="bbox 0 0 100 100"></div></body></html>'
    for layout in ("generic", "dynamic", "financial", "professional"):
        assert extract_document(empty, layout=layout).csv == b"\xef\xbb\xbf"
    # blank-text words only -> same
    blank = _doc([("   ", 10, 10, 40, 30)])
    assert extract_document(blank, layout="generic").csv == b"\xef\xbb\xbf"


def test_single_token_header_only():
    html = _doc([("solo", 100, 100, 136, 130)])
    res = extract_document(html, layout="generic")
    # single column (no x gaps), single row; header = that row, body empty
    assert res.csv == b"\xef\xbb\xbfsolo\r\n"


def test_bbox_crop_filters_tokens():
    words = [
        ("inside", 100, 300, 160, 330),
        ("noise", 100, 10, 150, 40),  # above the crop box
    ]
    html = _doc(words)
    tok = _scan_tokens(html, table_bbox=(50, 250, 1650, 2000))
    assert list(tok.text) == ["inside"]


def test_line_id_vs_inference_equivalence():
    # same geometry, one doc with ocr_line nesting, one without
    w = [("a", 100, 100, 120, 130), ("b", 300, 100, 320, 130), ("c", 100, 160, 120, 190)]
    plain = _doc(w)
    nested = (
        '<?xml version="1.0"?><html><body><div class="ocr_page" title="bbox 0 0 1700 2200">'
        '<span class="ocr_line" id="l1" title="bbox 100 100 320 130">'
        '<span class="ocrx_word" title="bbox 100 100 120 130">a</span>'
        '<span class="ocrx_word" title="bbox 300 100 320 130">b</span></span>'
        '<span class="ocr_line" id="l2" title="bbox 100 160 120 190">'
        '<span class="ocrx_word" title="bbox 100 160 120 190">c</span></span>'
        "</div></body></html>"
    ).encode()
    r1 = extract_document(plain, layout="generic")
    r2 = extract_document(nested, layout="generic")
    assert r1.csv == r2.csv


def test_line_id_fallback_name_consumes_index():
    # a line with no parsable bbox still consumes a document-order index
    # (parser.py:33-40: enumerate over all ocr_line spans)
    html = (
        '<?xml version="1.0"?><html><body><div class="ocr_page" title="bbox 0 0 500 500">'
        '<span class="ocr_line" title="no box here">'
        '<span class="ocrx_word" title="bbox 10 10 30 30">x</span></span>'
        '<span class="ocr_line" title="bbox 0 50 100 90">'
        '<span class="ocrx_word" title="bbox 10 50 30 90">y</span></span>'
        "</div></body></html>"
    ).encode()
    tok = _scan_tokens(html)
    # word 'x' gets no line_id (its line had no bbox); 'y' maps to the
    # second line whose fallback id is page_1_line_2
    assert tok.line_id[0] is None
    assert tok.line_id[1] == "page_1_line_2"


def test_multipage_line_ordering():
    html = (
        '<?xml version="1.0"?><html><body>'
        '<div class="ocr_page" title="bbox 0 0 500 500">'
        '<span class="ocrx_word" title="bbox 10 400 50 430">p1</span></div>'
        '<div class="ocr_page" title="bbox 0 0 500 500">'
        '<span class="ocrx_word" title="bbox 10 10 50 40">p2</span></div>'
        "</body></html>"
    ).encode()
    tok = _scan_tokens(html)
    lines = build_lines(tok)
    # page-major order even though page 2's token has a smaller y
    assert [(ln.page, tok.text[ln.idx[0]]) for ln in lines] == [(1, "p1"), (2, "p2")]


def test_overlap_band_expansion():
    # token B overlaps A by >= 50% of the smaller height -> same line, and
    # the band expands so C (overlapping only B's extent) still joins
    html = _doc(
        [
            ("A", 0, 100, 20, 130),
            ("B", 30, 115, 50, 145),
            ("C", 60, 130, 80, 160),  # overlap 15 / min-height 30 = 0.5
        ]
    )
    tok = _scan_tokens(html)
    lines = build_lines(tok)
    assert len(lines) == 1
    assert [tok.text[i] for i in lines[0].idx] == ["A", "B", "C"]


def test_transformers_heuristic_fallback_six_cols():
    """layout 'transformers' (ref layout_transformers.py:516-537): the
    non-model heuristic reconstruction = generic pipeline with target_cols
    defaulting to MAX_MODEL_COLUMNS=6 (ref :26, :516) plus a cell strip
    (ref cleaners.py:13-27).  Hand derivation (columns.py:18-48: cuts at
    gap centers, not coverage runs):
      zero runs 148..499 (mean cut 323) and 532..899 (mean cut 715);
      cuts [100, 323, 715, 932] -> intervals (100,323)(323,715)(715,932);
      coerce to 6 (columns.py:50-70: split widest, ties -> first):
        (323,715)w392 -> (323,519)(519,715); (100,323)w223 -> (100,211)(211,323);
        (715,932)w217 -> (715,823)(823,932)
      centers: Cuenta 124 -> col0, 2021 516 -> col2 (516 <= 519 inclusive),
        2022 916 -> col5; second row 124/508/908 -> cols 0/2/5
      header = first row (rows.py:146), body = row 2.
    """
    html = _doc(
        [
            ("Cuenta", 100, 100, 148, 130),
            ("2021", 500, 100, 532, 130),
            ("2022", 900, 100, 932, 130),
            ("ventas", 100, 156, 148, 186),
            ("11", 500, 156, 516, 186),
            ("22", 900, 156, 916, 186),
        ]
    )
    res = extract_document(html, layout="transformers")
    assert res.layout == "transformers"
    assert res.n_cols == 6 and res.n_rows == 1
    assert res.csv == b"\xef\xbb\xbfCuenta,,2021,,,2022\r\nventas,,11,,,22\r\n"


def test_transformers_spatial_grid_fallback():
    """When the heuristic reconstruction yields no intervals the reference's
    last non-model fallback is the spatial grid builder (ref
    layout_transformers.py:551-559, build_grid_from_words == grid_builder.py
    == the professional path).  Geometry chosen so estimate_columns drops
    every interval (cuts [100,114,130] -> widths 14 and 16, both < 25,
    columns.py:44-48), forcing the fallback; the output must equal the
    professional layout's on the same tokens."""
    words = [
        ("a", 100, 100, 110, 130),
        ("b", 120, 100, 130, 130),
        ("c", 100, 156, 110, 186),
        ("d", 120, 156, 130, 186),
    ]
    html = _doc(words)
    res = extract_document(html, layout="transformers")
    pro = extract_document(html, layout="professional")
    assert res.layout == "transformers"
    assert res.error is None
    assert res.csv == pro.csv
    assert res.n_rows == pro.n_rows and res.n_cols == pro.n_cols


# ---------------------------------------------------------------------------
# VERDICT r01 #7: hand-derived byte pins for the families previously anchored
# only by self-frozen goldens.  Every expected byte string below is computed
# by hand from the cited reference semantics, independent of the kernel.
# ---------------------------------------------------------------------------


def _leader_words(label, y, value_tokens, value_x1):
    """Dot-leader line (dyn family shape): label at x=100, 4px dots every
    14px up to x=860, then value token(s) from value_x1 with 6-8px gaps."""
    words = [(label, 100, y, 100 + 8 * len(label), y + 30)]
    x = 100 + 8 * len(label) + 10
    while x + 4 <= 860:
        words.append((".", x, y, x + 4, y + 30))
        x += 14
    x = value_x1
    for t in value_tokens:
        w = 8 * len(t)
        words.append((t, x, y, x + w, y + 30))
        x += w + 8
    return words


def _label_with_dots(label):
    n = ((860 - 4 - (100 + 8 * len(label) + 10)) // 14) + 1
    return label + " ." * n


def test_dynamic_global_gap_fallback_bytes():
    """A8 global-gap fallback (column_model.py:171-196): 3 lines x 2 value
    spans -> modal k=2 but every bucket has 3 (< max(5, 5%)) members
    (column_model.py:152-154) -> fallback.  Hand derivation:
      centers = [1210 x3, 1540 x3]; gaps sorted [0,0,0,0,330];
      P90 = 0 + 0.6*330 = 198 -> thr = max(35,198) = 198;
      cuts [1210, 1375, 1540] -> raw (1210,1375)(1375,1540), CONTIGUOUS so
      the merge rule (iv.L - prev.R > 8 else fuse, column_model.py:190-194)
      collapses them into ONE interval -> [(1186, 1564)] after pad 24.
      So the fallback yields a single Valor_1 column and first-wins keeps
      the LEFT value (assign_dynamic.py:61-66).  No year in the top band ->
      default names (main.py:46-54).
    """
    words = []
    for y, (lab, v1, v2) in zip(
        (100, 156, 212), (("aaa", "11", "22"), ("bbb", "33", "44"), ("ccc", "55", "66"))
    ):
        words += _leader_words(lab, y, [v1], 1210 - 8)
        words.append((v2, 1540 - 8, y, 1540 + 8, y + 30))
    res = extract_document(_doc(words), layout="dynamic")
    lab = _label_with_dots("aaa")[3:]  # shared dot suffix for 3-char labels
    exp = (
        "Cuenta,Valor_1\r\n"
        f"aaa{lab},11\r\nbbb{lab},33\r\nccc{lab},55\r\n"
    ).encode()
    assert res.csv == b"\xef\xbb\xbf" + exp
    assert res.n_cols == 2 and res.n_rows == 3


def test_weird_numbers_numeric_csv_bytes():
    """X2 `_to_number` quirks through the FULL dynamic csv-numeric path
    (exporters.py:14-34): parens keep ')' after the character strip so
    float() raises and the ORIGINAL text survives; '-' -> '0'; '$ 101,606'
    -> '101606'; '1,234.50' -> '1234.5'; space thousands '1 234 567' ->
    '1234567'.  Column inference falls back to one global interval
    (centers spread 1210..1230 < thr 35 -> single cut pair, width 20 >= 10,
    column_model.py:171-196)."""
    specs = [
        ("aa", ["(57,519)"], 1210 - 32, '"(57,519)"', "(57,519)"),
        ("bb", ["1,234.50"], 1210 - 32, '"1,234.50"', "1234.5"),
        ("cc", ["$", "101,606"], 1210 - 32, '"$ 101,606"', "101606"),
        ("dd", ["-"], 1210 - 4, "-", "0"),
        ("ee", ["1", "234", "567"], 1210 - 32, "1 234 567", "1234567"),
        ("ff", ["42"], 1230 - 8, "42", "42"),
    ]
    words = []
    for i, (lab, toks, x1, _, _) in enumerate(specs):
        words += _leader_words(lab, 100 + 56 * i, toks, x1)
    res = extract_document(_doc(words), layout="dynamic")
    dots = _label_with_dots("aa")[2:]  # all labels are 2 chars
    exp_csv = "Cuenta,Valor_1\r\n" + "".join(
        f"{lab}{dots},{raw}\r\n" for (lab, _, _, raw, _) in specs
    )
    exp_num = "Cuenta,Valor_1\r\n" + "".join(
        f"{lab}{dots},{num}\r\n" for (lab, _, _, _, num) in specs
    )
    # the numeric variant re-quotes: the surviving '(57,519)' still has a comma
    exp_num = exp_num.replace(",(57,519)", ',"(57,519)"')
    assert res.csv == b"\xef\xbb\xbf" + exp_csv.encode()
    assert res.csv_numeric == b"\xef\xbb\xbf" + exp_num.encode()


def test_dynamic_float_overflow_keeps_raw_digits():
    """A cell of 309+ digits overflows float() to inf: the numeric variant
    keeps the raw text and the document still extracts (no error row)."""
    big = "9" * 309
    words = []
    for i, (lab, toks) in enumerate((("aa", ["12"]), ("bb", [big]), ("cc", ["34"]))):
        words += _leader_words(lab, 100 + 56 * i, toks, 1210 - 8)
    res = extract_document(_doc(words), layout="dynamic")
    assert res.error is None
    assert res.n_rows == 3
    assert big.encode() in res.csv_numeric


def test_multipage_rows_merge_across_pages_bytes():
    """Multipage end-to-end: the row profile is GLOBAL over y (rows.py:8-80
    has no page term), so records from different pages sharing a y-band
    fuse into one row via the cell union (rows.py:76-78).  Hand derivation:
      x cuts: zero run 150..399 -> cut 274 -> cols (100,274)(274,440);
      y cuts: zero run 130..159 -> cut 144 -> rows (100,144)(144,190);
      p1 line1 ['Name','Val'] + p2 line1 ['bar','7'] -> ['Name bar','Val 7'];
      header = first row (rows.py:146)."""
    html = (
        '<?xml version="1.0"?><html><body>'
        '<div class="ocr_page" title="bbox 0 0 1700 2200">'
        '<span class="ocrx_word" title="bbox 100 100 150 130">Name</span>'
        '<span class="ocrx_word" title="bbox 400 100 440 130">Val</span>'
        '<span class="ocrx_word" title="bbox 100 160 130 190">foo</span>'
        '<span class="ocrx_word" title="bbox 400 160 410 190">9</span></div>'
        '<div class="ocr_page" title="bbox 0 0 1700 2200">'
        '<span class="ocrx_word" title="bbox 100 100 130 130">bar</span>'
        '<span class="ocrx_word" title="bbox 400 100 410 130">7</span></div>'
        "</body></html>"
    ).encode()
    res = extract_document(html, layout="generic")
    assert res.csv == b"\xef\xbb\xbfName bar,Val 7\r\nfoo,9\r\n"
    assert res.n_rows == 1 and res.n_cols == 2


def test_bbox_crop_end_to_end_bytes():
    """F1 bbox crop through the whole generic pipeline: tokens outside the
    crop never reach column/row estimation, so the output equals the
    uncropped extraction of the inside tokens alone (parser crop,
    main.py bbox plumb-through)."""
    inside = [
        ("Name", 100, 300, 150, 330),
        ("Val", 400, 300, 440, 330),
        ("foo", 100, 360, 130, 390),
        ("9", 400, 360, 410, 390),
    ]
    noise = [
        ("pagina", 100, 30, 160, 60),       # above the crop
        ("pie", 100, 2120, 130, 2150),      # below the crop
    ]
    res = extract_document(
        _doc(inside + noise), layout="generic", table_bbox=(50, 250, 1650, 2000)
    )
    pure = extract_document(_doc(inside), layout="generic")
    assert res.csv == pure.csv == b"\xef\xbb\xbfName,Val\r\nfoo,9\r\n"
    assert res.n_tokens == 4


def test_generic_wrap_continuation_bytes():
    """generic_wrap: a continuation line separated by a 2px zero-run is NOT
    a row cut (rows.py zero-run threshold: runs must be > 2 px) so the wrap
    fuses into its row.  Hand derivation:
      x cuts: zero run 162..399 -> cut 280 -> cols (100,280)(280,416);
      y profile: coverage 100-130, 132-162 (2px gap -> no cut), 188-218
      (26px gap -> cut 174) -> rows (100,174)(174,218);
      row0 = ['alpha','10'] + ['cont',''] -> ['alpha cont','10']."""
    words = [
        ("alpha", 100, 100, 140, 130),
        ("10", 400, 100, 416, 130),
        ("cont", 130, 132, 162, 162),
        ("beta", 100, 188, 132, 218),
        ("20", 400, 188, 416, 218),
    ]
    res = extract_document(_doc(words), layout="generic")
    assert res.csv == b"\xef\xbb\xbfalpha cont,10\r\nbeta,20\r\n"
    assert res.n_rows == 1 and res.n_cols == 2


def test_html_entities_and_malformed_markup():
    """Boilerplate path robustness pins: entities decode through the lenient
    HTML parser (&amp; &lt; &quot; &#65; &nbsp;), table cells keep decoded
    text through the byte-exact CSV writer, and unclosed tags still yield
    content blocks instead of an error row."""
    html = (
        b"<html><body><nav><ul><li><a href='/x'>skip me entirely</a></li></ul></nav>"
        b"<article><p>Tom &amp; Jerry &lt;3 cartoons &quot;forever&quot; &#65; &nbsp;end of paragraph here</p>"
        b"<table><tr><th>a&amp;b</th><th>c</th></tr><tr><td>1 &lt; 2</td><td>x</td></tr>"
        b"<tr><td>d</td><td>e</td></tr></table></article></body></html>"
    )
    res = extract_document(html, layout="auto")
    assert res.error is None and res.layout == "html"
    assert res.main_text == 'Tom & Jerry <3 cartoons "forever" A end of paragraph here'
    assert res.csv == b"\xef\xbb\xbfa&b,c\r\n1 < 2,x\r\nd,e\r\n"

    bad = (
        b"<html><body><article><p>alpha beta gamma delta epsilon zeta eta theta iota</p>"
        b"<div><p>unclosed paragraph with plenty of text to keep</div></body>"
    )
    r2 = extract_document(bad, layout="auto")
    assert r2.error is None
    assert r2.main_text == (
        "alpha beta gamma delta epsilon zeta eta theta iota\n\n"
        "unclosed paragraph with plenty of text to keep"
    )



@pytest.mark.parametrize("depth", [1000, 20000])
@pytest.mark.parametrize("tag", ["p", "div"])
def test_deeply_nested_html_is_not_an_error_row(tag, depth):
    """The lenient parser never auto-closes <p>/<div>, so a page of
    ``depth`` unclosed tags nests ``depth`` levels deep.  The main-text walk
    must not recurse per level (1,000 levels overflowed the interpreter
    stack and made the page an error row).  Only the innermost paragraph is
    a leaf block, so it alone is the main text.  The same unclosed tags
    around hOCR words fail the XML parse, so the token scan walks the
    lenient tree at that depth and still finds every word."""
    from ocr_table_extractor_to_csv_spark.operators.extract import _extract_one

    html = "<html><body>" + "".join(
        f"<{tag}>paragraph number {i} of a long page " for i in range(depth)
    )
    res = _extract_one(html.encode(), "html", {})
    assert res.error is None
    assert res.main_text == f"paragraph number {depth - 1} of a long page"

    words = ("Caja", "1.234", "2.345")
    hocr = (
        '<html><body><div class="ocr_page" title="bbox 0 0 1000 1000">'
        + f"<{tag}>" * depth
        + "".join(
            f'<span class="ocrx_word" title="bbox {100 * i} 10 {100 * i + 60} 30">{w}</span>'
            for i, w in enumerate(words)
        )
    )
    res = _extract_one(hocr.encode(), "generic", {})
    assert res.error is None and res.is_hocr
    assert res.n_tokens == len(words)
    assert res.main_text == " ".join(words)


@pytest.mark.parametrize("layout", ["generic", "transformers", "professional"])
@pytest.mark.parametrize("inverted", [(0, 60, 40, 20), (500, 0, 90, 20)])
def test_inverted_word_is_not_an_error_row(layout, inverted):
    """A word whose bbox has y1 > y2 (or x1 > x2) adds to a projection
    profile what the reference's ``profile[a:b] += 1`` adds: nothing where
    the slice is empty, clipped where it runs past either end.  Its start
    beyond the profile made the page an error row (IndexError)."""
    from ocr_table_extractor_to_csv_spark.operators.extract import _extract_one

    html = _doc(
        [
            ("Name", 100, 0, 150, 20),
            ("Val", 400, 0, 440, 20),
            ("foo", 100, 22, 130, 42),
            ("9", 400, 22, 410, 42),
            ("odd", *inverted),
        ]
    )
    res = _extract_one(html, layout, {})
    assert res.error is None
    assert res.n_tokens == 5


def test_html_layout_on_well_formed_hocr():
    """A forced ``html`` layout on hOCR that parses as XML re-parses it into
    the lenient HTML tree, the tree the boilerplate strip is specified on,
    instead of walking the XML root."""
    html = (
        b'<?xml version="1.0"?><html><body>'
        b'<div class="ocr_page" title="bbox 0 0 1700 2200">'
        b'<p class="ocr_par">The quarterly report covers every branch office.</p>'
        b"</div></body></html>"
    )
    res = extract_document(html, layout="html")
    assert res.error is None and res.layout == "html"
    assert res.main_text == "The quarterly report covers every branch office."


def test_header_regex_window_and_reorder():
    """F7 (rows.py:137-162): header regexes search rows 0..2 as a lowered
    ' | '-joined string; a row-2 hit promotes that row to header and the
    body keeps the ORIGINAL order of the remaining rows (before + after)."""
    from ocr_table_extractor_to_csv_spark.kernel.layouts import detect_header_row

    rows = [["estado", ""], ["financiero", ""], ["Cuenta", "2023"], ["caja", "5"]]
    hdr, body = detect_header_row(rows, ["cuenta|descripcion"])
    assert hdr == ["Cuenta", "2023"]
    assert body == [["estado", ""], ["financiero", ""], ["caja", "5"]]
    # no hit within the first three rows -> default first-row header
    hdr2, body2 = detect_header_row(rows, ["nomatch"])
    assert hdr2 == ["estado", ""] and body2 == rows[1:]


def test_financial_subtotal_without_section():
    """X4 (postprocess.py:38-44): a label-less all-numeric row becomes
    'Subtotal' when no section has been seen yet (vs 'Total {section}')."""
    from ocr_table_extractor_to_csv_spark.kernel.layouts import postprocess_financial

    assert postprocess_financial([["", "1,000", "2,000"]]) == [
        ["Subtotal", "1,000", "2,000"]
    ]


def test_dynamic_header_partial_year_fill():
    """A9/J6 (main.py:46-54 + column_model.py:47-82): when SOME columns get
    a year vote, the unnamed ones fill with their positional Valor_{i+1}."""
    from ocr_table_extractor_to_csv_spark.kernel.layouts import resolve_dynamic_header

    assert resolve_dynamic_header(3, ["", "2022", ""]) == [
        "Cuenta", "Valor_1", "2022", "Valor_3"
    ]
    assert resolve_dynamic_header(2, None) == ["Cuenta", "Valor_1", "Valor_2"]
