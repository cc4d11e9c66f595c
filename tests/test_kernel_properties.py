"""Property-based kernel tests (SURVEY.md §5.2.3): random token layouts ->
structural invariants + determinism, across every layout."""

import time
from html.parser import HTMLParser
from itertools import takewhile
from xml.sax.saxutils import quoteattr

import hypothesis.strategies as st
import numpy as np
import pytest
from hypothesis import example, given, settings

from ocr_table_extractor_to_csv_spark.kernel import extract as kernel_extract
from ocr_table_extractor_to_csv_spark.kernel import (
    dataset,
    extract_document,
    geometry,
    hocr,
    layouts,
    lines,
    professional,
)
from ocr_table_extractor_to_csv_spark.kernel.hocr import (
    TokenArrays,
    parse_dom,
    parse_title_bbox,
    scan_tokens_from_dom,
)
from ocr_table_extractor_to_csv_spark.operators.extract import _extract_one
from ocr_table_extractor_to_csv_spark.sources.fixtures import Word, render_hocr

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


def _hocr(*pages: str) -> bytes:
    body = "".join(f'<div class="ocr_page" title="bbox 0 0 100 100">{p}</div>' for p in pages)
    return f'<?xml version="1.0"?><html><body>{body}</body></html>'.encode()


def _words(titles, text=None) -> str:
    """One word per title, with text ``w<i>`` unless ``text`` is given."""
    return "".join(
        f'<span class="ocrx_word" title={quoteattr(t)}>{text or f"w{i}"}</span>'
        for i, t in enumerate(titles)
    )


def test_scan_bbox_language_equals_parse_title_bbox():
    """The scan keeps a word iff parse_title_bbox accepts its title, with
    that function's box, whether the page takes the bulk parse (every title
    in the exact form) or the per-title one (adversarial titles: exact
    forms, forms only the regex accepts, and rejects)."""
    exact = ["bbox 1 2 3 4", "bbox 01 002 3 4", "bbox 0 0 0 0", "bbox 5 6 7 999999999999999999"]
    titles = exact + [
        "bbox 10 20 30 40; x_wconf 96",      # suffix -> regex
        "image p.png; bbox 5 6 7 8",         # prefix -> regex
        "bbox  1 2 3 4",                     # double space -> regex
        "bbox 1 2 3",                        # too few -> None
        "bbox -1 2 3 4",                     # negative -> None
        "bbox 1 2 3 \u00b2",                # superscript two: not a decimal -> None
        "x_size 12",                         # no bbox -> None
        "bbox 1 2 3\u00a04",                # nbsp: \s matches, not the exact form
        "bbox 1 2 3 4\nbbox 5 6 7 8",        # a newline of its own: first box
        "bbox \u0661 \u0662 \u0663 \u0664",  # Arabic-Indic digits -> ints
        "bbox \uff11 \uff12 \uff13 \uff14",  # fullwidth digits -> ints
        "",                                  # empty -> None
    ]
    # an exact-form-only page (bulk parse) next to a mixed page, and exact
    # titles next to one whose newline makes it read as two exact rows
    pages = [exact, titles, exact + ["bbox 1 2 3 4\nbbox 5 6 7 8"] + exact]
    tok = scan_tokens_from_dom(parse_dom(_hocr(*map(_words, pages)))[0])
    got = list(zip(
        tok.page.tolist(), tok.text.tolist(),
        zip(tok.x1.tolist(), tok.y1.tolist(), tok.x2.tolist(), tok.y2.tolist()),
    ))
    want = [
        (pi, f"w{i}", bb)
        for pi, page in enumerate(pages, start=1)
        for i, t in enumerate(page)
        if (bb := parse_title_bbox(t)) is not None
    ]
    assert got == want


def test_scan_box_beyond_int64_keeps_the_reference_error():
    """A kept word whose box exceeds int64 fails the document with the
    reference scan's error text; a dropped one (blank text, outside the
    crop) does not fail it."""
    huge = "bbox 1 2 3 9999999999999999999"  # 19 digits, beyond int64
    html = _hocr(_words(["bbox 1 2 3 4", huge]))
    with pytest.raises(OverflowError) as ref:
        _ref_scan(parse_dom(html)[0])
    assert _extract_one(html, "generic", {}).error == f"OverflowError: {ref.value}"

    # lines whose edges exceed int64: one contains no word, one every word
    lined = "".join(
        f'<span class="ocr_line" title="bbox {b}">{_words(["bbox 5 5 9 9"])}</span>'
        for b in ("0 9999999999999999999 50 50", "0 0 9999999999999999999 50")
    )
    for html, crop in (
        (_hocr(_words(["bbox 1 2 3 4"]) + _words([huge], text="&#32;")), None),
        (_hocr(_words(["bbox 1 2 3 4", huge])), (0, 0, 50, 50)),
        (_hocr(lined), None),
    ):
        root = parse_dom(html)[0]
        _assert_same_tokens(scan_tokens_from_dom(root, crop), _ref_scan(root, crop))
        assert _extract_one(html, "generic", {"table_bbox": crop}).error is None


# --------------------------------------------------------------------------
# Reference lenient-HTML tree: the hand-written DOM the fallback parser
# built before it fed ET.TreeBuilder.  ``content`` interleaves text and
# child nodes in document order.
# --------------------------------------------------------------------------


class _RefNode:
    __slots__ = ("tag", "attrs", "content")

    def __init__(self, tag, attrs):
        self.tag = tag
        self.attrs = attrs
        self.content = []  # str | _RefNode, in document order

    @property
    def children(self):
        return [c for c in self.content if isinstance(c, _RefNode)]

    def get(self, key, default=None):
        return self.attrs.get(key, default)

    def itertext(self):
        stack = [iter(self.content)]
        while stack:
            for c in stack[-1]:
                if isinstance(c, _RefNode):
                    stack.append(iter(c.content))
                    break
                yield c
            else:
                stack.pop()

    def iter(self):
        yield self
        stack = [iter(self.content)]
        while stack:
            for c in stack[-1]:
                if isinstance(c, _RefNode):
                    yield c
                    stack.append(iter(c.content))
                    break
            else:
                stack.pop()

    # the rest of the Element surface the kernel's tree readers use
    def __len__(self):
        return len(self.children)

    def __iter__(self):
        return iter(self.children)

    @property
    def text(self):
        return "".join(takewhile(lambda c: isinstance(c, str), self.content)) or None


class _RefLenientHTML(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _RefNode(hocr.HTML_ROOT, {})
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _RefNode(tag, dict(attrs))
        self.stack[-1].content.append(node)
        if tag not in hocr._VOID:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].content.append(_RefNode(tag, dict(attrs)))

    def handle_endtag(self, tag):
        # close the nearest matching open tag (lenient recovery)
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        self.stack[-1].content.append(data)


def _ref_parse_html(raw):
    parser = _RefLenientHTML()
    try:
        parser.feed(raw)
        parser.close()
    except Exception:
        pass
    return parser.root


def _push_text(out, s):
    if not s:
        return
    if out and out[-1][0] == "text":
        out[-1] = ("text", out[-1][1] + s)
    else:
        out.append(("text", s))


def _ref_events(node, out):
    out.append(("start", node.tag, node.attrs))
    for c in node.content:
        if isinstance(c, _RefNode):
            _ref_events(c, out)
        else:
            _push_text(out, c)
    out.append(("end", node.tag))
    return out


def _element_events(el, out):
    out.append(("start", el.tag, el.attrib))
    _push_text(out, el.text)
    for c in el:
        _element_events(c, out)
        _push_text(out, c.tail)
    out.append(("end", el.tag))
    return out


_TAGS = ("p", "div", "a", "span", "li", "nav", "footer", "table", "tr", "td", "h1", "script")
_PROSE = (
    "quarterly revenue grew across every branch office",
    "the board approved the annual budget on time",
    "Cuenta 2023 2024",
    "Tom & Jerry",
)
_fragment = st.one_of(
    st.sampled_from(_TAGS).map(lambda t: f"<{t}>"),
    st.sampled_from(_TAGS).map(lambda t: f"</{t}>"),  # closes an open tag or is stray
    st.sampled_from(("<br>", "<img src=x>", "<hr/>", "<br/>", "</br>", "<span/>", "<p/>", "<td nowrap>")),
    st.sampled_from(("<!-- <p>note</p> -->", "&amp;", "&#65;", "&lt;p&gt;", "&nbsp;", "&bogus;", "<!DOCTYPE html>")),
    st.sampled_from(('<script>var s = "<p>x</p>";</script>', "<style>p { }</style>", "<", "</", "<div class=")),
    st.sampled_from(_PROSE),
    st.sampled_from(_PROSE).map(lambda t: f"<p>{t}"),
    st.sampled_from(_PROSE).map(lambda t: f'<div>{t} <a href="#">{t}</a> {t}</div>'),
    st.sampled_from((
        "<table><tr><th>Cuenta</th><th>2023</th></tr><tr><td>Caja</td><td>1.234</td></tr></table>",
        "<table><tr><td>a<td>b<tr><td>1<td>2</table>",
    )),
    st.sampled_from(('<div class="ocr_page" title="bbox 0 0 1000 1000">', '<span class="ocr_line" title="bbox 0 0 1000 40">')),
    st.builds(
        lambda x, y, t: f'<span class="ocrx_word" title="bbox {x} {y} {x + 30} {y + 10}">{t}</span>',
        st.integers(0, 900),
        st.integers(0, 900),
        st.sampled_from(("Caja", "1.234", "2023", "<b>x</b>", "")),
    ),
)


_markup = st.tuples(
    st.sampled_from(("", "<html><body>", '<html><body><div class="ocr_page" title="bbox 0 0 1000 1000">')),
    st.lists(_fragment, max_size=40),
).map(lambda parts: parts[0] + "".join(parts[1]))


@settings(max_examples=200, deadline=None)
@given(_markup)
def test_lenient_tree_matches_reference_dom(markup):
    """The TreeBuilder-based lenient parser builds the reference DOM's tree
    (same tags, attributes and text in document order), and every layout
    that reads the fallback tree gives the same result on both trees."""
    assert _element_events(hocr.parse_html(markup), []) == _ref_events(_ref_parse_html(markup), [])

    html = markup.encode()
    for layout in ("auto", "html", "generic"):
        new = extract_document(html, layout=layout)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(hocr, "parse_html", _ref_parse_html)
            mp.setattr(kernel_extract, "parse_html", _ref_parse_html)
            ref = extract_document(html, layout=layout)
        assert new == ref  # csv, main_text, header, n_tokens and the rest


# --------------------------------------------------------------------------
# Reference token scan and line assembly: the per-word loops the columnar
# kernel replaced, kept as the specification it must reproduce.
# --------------------------------------------------------------------------


def _ref_scan(root, table_bbox=None):
    """parser.py:16-62 as one loop per word: line boxes and word boxes in
    document order, then each word's first containing line."""
    texts, pages, boxes, line_ids = [], [], [], []
    page_nodes = [n for n in root.iter() if hocr._has_class(n, "ocr_page")]
    for pi, page in enumerate(page_nodes, start=1):
        line_boxes = []
        first_word = len(boxes)
        li = 0
        it = page.iter()
        next(it)
        for n in it:
            cls = n.get("class")
            if not cls:
                continue
            if "ocr_line" in cls:
                lid = n.get("id") or f"page_{pi}_line_{li + 1}"
                li += 1
                lb = parse_title_bbox(n.get("title"))
                if lb:
                    line_boxes.append((lid, lb))
            if "ocrx_word" in cls:
                bb = parse_title_bbox(n.get("title"))
                if not bb:
                    continue
                if table_bbox is not None:
                    X1, Y1, X2, Y2 = table_bbox
                    if not (bb[0] >= X1 and bb[1] >= Y1 and bb[2] <= X2 and bb[3] <= Y2):
                        continue
                text = "".join(n.itertext()).strip()
                if not text:
                    continue
                texts.append(text)
                pages.append(pi)
                boxes.append(bb)
        for x1, y1, x2, y2 in boxes[first_word:]:
            line_ids.append(next(
                (
                    lid for lid, (a, b, c, d) in line_boxes
                    if x1 >= a and y1 >= b and x2 <= c and y2 <= d
                ),
                None,
            ))
    if not texts:
        return TokenArrays.empty()
    box_arr = np.asarray(boxes, dtype=np.int64)
    return TokenArrays(
        np.asarray(texts, dtype=object), np.asarray(pages, dtype=np.int64),
        box_arr[:, 0], box_arr[:, 1], box_arr[:, 2], box_arr[:, 3],
        np.asarray(line_ids, dtype=object),
    )


def _assert_same_tokens(got, want):
    for f in ("text", "page", "x1", "y1", "x2", "y2", "line_id"):
        a, b = getattr(got, f), getattr(want, f)
        assert (f, a.dtype, a.tolist()) == (f, b.dtype, b.tolist())


def _ref_finish(tok, page, members, line_id=None):
    members = sorted(members, key=tok.x1.tolist().__getitem__)
    return lines.Line(
        page=page,
        x1=int(tok.x1[members[0]]),
        y1=min(int(tok.y1[i]) for i in members),
        x2=max(int(tok.x2[i]) for i in members),
        y2=max(int(tok.y2[i]) for i in members),
        idx=np.asarray(members, dtype=np.int64),
        line_id=line_id,
    )


def _ref_build_lines(tok):
    """lines.py:6-63 as per-token loops: group by line_id (or an inferred
    key), else the greedy band scan in (page, yc, x1) order."""
    n = len(tok)
    if n == 0:
        return []
    x1l, y1l, y2l, pagel = (a.tolist() for a in (tok.x1, tok.y1, tok.y2, tok.page))
    if any(lid is not None for lid in tok.line_id):
        groups = {}
        for i in range(n):
            lid = tok.line_id[i]
            if not lid:
                lid = f"inferred_{pagel[i]}_{int((y1l[i] + y2l[i]) / 2.0)}"
            groups.setdefault((pagel[i], lid), []).append(i)
        out = [_ref_finish(tok, p, m, lid) for (p, lid), m in groups.items()]
        out.sort(key=lambda L: (L.page, L.y1, L.x1))
        return out
    order = np.lexsort((tok.x1, (tok.y1 + tok.y2) / 2.0, tok.page)).tolist()
    out, current = [], []
    cur_page = pagel[order[0]]
    band_lo, band_hi = y1l[order[0]], y2l[order[0]]
    for i in order:
        if pagel[i] != cur_page:
            if current:
                out.append(_ref_finish(tok, cur_page, current))
            current, cur_page = [i], pagel[i]
            band_lo, band_hi = y1l[i], y2l[i]
            continue
        t_lo, t_hi = y1l[i], y2l[i]
        inter = min(band_hi, t_hi) - max(band_lo, t_lo)
        if inter > 0 and inter / max(1, min(band_hi - band_lo, t_hi - t_lo)) >= 0.5:
            current.append(i)
            band_lo, band_hi = min(band_lo, t_lo), max(band_hi, t_hi)
        else:
            if current:
                out.append(_ref_finish(tok, cur_page, current))
            current = [i]
            band_lo, band_hi = t_lo, t_hi
    if current:
        out.append(_ref_finish(tok, cur_page, current))
    out.sort(key=lambda L: (L.page, L.y1, L.x1))
    return out


def _line_fields(out):
    return [
        (
            L.page, L.x1, L.y1, L.x2, L.y2, L.idx.dtype, L.idx.tolist(), L.line_id,
            *map(type, (L.page, L.x1, L.y1, L.x2, L.y2)),
        )
        for L in out
    ]


_coord = st.integers(0, 40)


@st.composite
def _box(draw):
    """Mostly small upright boxes, some zero-height, inverted or page-tall."""
    x1, y1 = draw(_coord), draw(_coord)
    h = draw(st.one_of(st.integers(-4, 12), st.just(0), st.integers(100, 400)))
    return x1, y1, max(0, x1 + draw(st.integers(-4, 30))), max(0, y1 + h)


@st.composite
def _element(draw, cls, exact, inner):
    bb = " ".join(map(str, draw(_box())))
    forms = [f"bbox {bb}"] if exact else [
        f"bbox {bb}", f"bbox {bb}; x_wconf 93", f"image p.png; bbox {bb}", "", "x_size 9", None,
    ]
    title = draw(st.sampled_from(forms))
    ident = draw(st.sampled_from((None, "", "l1", "l2"))) if "ocr_line" in cls else None
    attrs = f' class="{cls}"'
    attrs += "" if ident is None else f' id="{ident}"'
    attrs += "" if title is None else f" title={quoteattr(title)}"
    return f"<span{attrs}>{inner}</span>"


@st.composite
def _children(draw, depth, exact):
    """Words, lines, nested pages, plain containers and two-role nodes."""
    parts = []
    for _ in range(draw(st.integers(0, 6 if depth else 10))):
        kinds = ["ocrx_word"] * 3 + ["ocr_line ocrx_word"]
        if depth < 3:
            kinds += ["ocr_line", "ocr_line", "ocr_par", "ocr_page"]
        cls = draw(st.sampled_from(kinds))
        if "ocrx_word" in cls:
            text = draw(st.sampled_from(("w", "12", " ", "", "<b>x</b> y")))
            parts.append(draw(_element(cls, exact, text)))
        else:
            parts.append(draw(_element(cls, exact, draw(_children(depth + 1, exact)))))
    return "".join(parts)


@st.composite
def _hocr_doc(draw):
    pages = [
        f'<div class="ocr_page" title="bbox 0 0 100 100">{draw(_children(0, draw(st.booleans())))}</div>'
        for _ in range(draw(st.integers(1, 3)))
    ]
    stray = draw(_children(2, False))  # words outside every page
    return f'<?xml version="1.0"?><html><body>{stray}{"".join(pages)}</body></html>'.encode()


_crop = st.one_of(
    st.none(),
    st.tuples(_coord, _coord, st.integers(0, 80), st.integers(0, 80)),
    st.tuples(st.just(0.5), st.just(0), st.floats(0, 80), st.just(80)),
)


@settings(max_examples=300, deadline=None)
@given(_hocr_doc(), _crop, st.sampled_from((1, 3, 1 << 20)), st.sampled_from((0, 2, 16)))
def test_scan_matches_reference_loop(html, crop, pair_chunk, tall_buckets):
    """The columnar scan (bulk box parse, crop mask, y-bucket line index)
    equals the per-word loop on pages with overlapping, nested, zero-height,
    inverted and page-tall lines, nested pages and crops, for any chunking
    of the containment test and any page-tall cap."""
    root = parse_dom(html)[0]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(hocr, "_PAIR_CHUNK", pair_chunk)
        mp.setattr(hocr, "_TALL_BUCKETS", tall_buckets)
        got = scan_tokens_from_dom(root, crop)
    _assert_same_tokens(got, _ref_scan(root, crop))


_token = st.tuples(
    st.integers(1, 3),                      # page
    st.integers(0, 12),                     # x1 (ties)
    st.integers(0, 12),                     # y1 (ties in yc)
    st.integers(-2, 8),                     # width
    st.integers(-2, 6),                     # height: zero and inverted too
    st.sampled_from((None, None, "", "a", "b")),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_token, min_size=0, max_size=40), st.booleans())
def test_build_lines_matches_reference_loop(rows, with_ids):
    """The one-array-step line assembly equals the per-token loops in both
    branches: line_id groups (mixed empty and non-empty ids) and greedy
    bands, over several pages, with ties in x1 and yc."""
    i64 = lambda vals: np.array(vals, dtype=np.int64)  # noqa: E731
    tok = TokenArrays(
        np.array([f"t{i}" for i in range(len(rows))], dtype=object),
        i64([r[0] for r in rows]),
        i64([r[1] for r in rows]),
        i64([r[2] for r in rows]),
        i64([r[1] + r[3] for r in rows]),
        i64([r[2] + r[4] for r in rows]),
        np.array([r[5] if with_ids else None for r in rows], dtype=object),
    )
    assert _line_fields(lines.build_lines(tok)) == _line_fields(_ref_build_lines(tok))


def test_lined_64k_token_page_extracts_in_bounded_time():
    """Word->line containment is linear in the page: a 64k-token page of
    8k ocr_line rows extracts in-process in well under 5 s (the per-word
    scan of every line box took minutes)."""
    rows, words = [], []
    for li in range(8000):
        y = 100 + 40 * li
        row = [Word(str(li * 8 + k), 100 + 150 * k, y, 190 + 150 * k, y + 30) for k in range(8)]
        rows.append((f"line_{li}", (100, y, 1240, y + 30), row))
        words += row
    html = render_hocr([words], line_groups=[rows]).encode()
    t0 = time.perf_counter()
    res = extract_document(html, layout="generic")
    assert time.perf_counter() - t0 < 5.0
    assert (res.error, res.n_tokens, res.n_lines) == (None, 64000, 8000)


# ---- span merge: the per-line loops compute_line_spans replaced ----------


def line_gap_quantile(x1, x2):
    """column_model.py:18-27: P95 of the positive gaps between x1-sorted
    neighbours (against the previous token's own x2); max(12, int(p)); 18
    when there is none."""
    order = np.argsort(x1, kind="stable")
    gaps = x1[order][1:] - x2[order][:-1]
    gaps = gaps[gaps > 0]
    if gaps.size == 0:
        return 18
    return max(12, int(np.percentile(gaps.astype(np.float64), 95)))


def merge_spans(text, x1, x2, max_gap_px):
    """column_model.py:29-45: x1-sorted tokens join the current span while
    ``x1 - running right edge <= max_gap_px``; spans are ``(x1, right
    edge, " ".join(texts).strip())``."""
    order = np.argsort(x1, kind="stable").tolist()
    if not order:
        return []
    spans = []
    s_x1, s_x2, buf = int(x1[order[0]]), int(x2[order[0]]), [text[order[0]]]
    for k in order[1:]:
        if int(x1[k]) - s_x2 <= max_gap_px:
            buf.append(text[k])
            s_x2 = max(s_x2, int(x2[k]))
        else:
            spans.append((s_x1, s_x2, " ".join(buf).strip()))
            s_x1, s_x2, buf = int(x1[k]), int(x2[k]), [text[k]]
    spans.append((s_x1, s_x2, " ".join(buf).strip()))
    return spans


_span_token = st.tuples(
    st.integers(0, 3),  # line id
    st.one_of(st.integers(0, 60), st.integers(0, 10**12)),  # x1: ties, and far apart
    st.one_of(st.integers(-30, 40), st.integers(-(10**12), 10**12)),  # width: inverted too
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_span_token, min_size=0, max_size=40), st.sampled_from((None, 18, 0, 5)))
@example([(0, 0, 50), (0, 10, 10), (0, 60, 20)], 5)  # a nested token keeps the right edge
@example([(0, 100, -100), (0, 100, 5), (0, 130, 5)], None)  # an inverted box, tied x1
def test_compute_line_spans_matches_per_line_loop(rows, max_gap_px):
    """The one-pass span merge is the per-line loop's, in both gap modes
    (a fixed gap, or each line's P95 of positive gaps), with ties in x1,
    zero-width and inverted boxes, and coordinates up to 10^12."""
    i64 = lambda vals: np.array(vals, dtype=np.int64)  # noqa: E731
    tok = TokenArrays(
        np.array([f"t{i}" for i in range(len(rows))], dtype=object),
        i64([1] * len(rows)),
        i64([r[1] for r in rows]),
        i64([r[0] * 20 for r in rows]),
        i64([max(0, r[1] + r[2]) for r in rows]),
        i64([r[0] * 20 + 10 for r in rows]),
        np.array([f"l{r[0]}" for r in rows], dtype=object),
    )
    lns = lines.build_lines(tok)
    want = [
        merge_spans(
            tok.text[ln.idx], tok.x1[ln.idx], tok.x2[ln.idx],
            line_gap_quantile(tok.x1[ln.idx], tok.x2[ln.idx]) if max_gap_px is None else max_gap_px,
        )
        for ln in lns
    ]
    assert layouts.compute_line_spans(tok, lns, max_gap_px) == want


# ---- grid assembly: the per-line and per-token loops it replaced ----------


def _ref_assign_words_to_columns(tok, lns, columns):
    """assign.py:6-28 per line: (y_top, y_bot, cells) with each token in
    the first interval holding its centre, else the nearest edge."""
    if not columns:
        return []
    out = []
    for ln in lns:
        buckets = [[] for _ in columns]
        for i in ln.idx.tolist():
            xc = (tok.x1[i] + tok.x2[i]) / 2.0
            dists = [min(abs(xc - L), abs(xc - R)) for L, R in columns]
            hit = [j for j, (L, R) in enumerate(columns) if L <= xc <= R]
            buckets[hit[0] if hit else int(np.argmin(dists))].append(tok.text[i])
        out.append((ln.y1, ln.y2, [" ".join(b).strip() for b in buckets]))
    return out


def _ref_combine_cells(acc, cells):
    return [(" ".join([a, b]).strip() if a and b else (a or b)) for a, b in zip(acc, cells)]


def _ref_merge_lines_into_rows(recs, tok, lns):
    """rows.py:8-80: each line joins the row interval holding its centre
    (``top <= yc < bot``) or is dropped; a gap-free profile is one row."""
    if not recs:
        return []
    idx = np.concatenate([ln.idx for ln in lns])
    origin, top = int(tok.y1[idx].min()), int(tok.y2[idx].max())
    profile = np.zeros(max(0, top - origin), dtype=int)
    for i in idx.tolist():
        profile[tok.y1[i] - origin:tok.y2[i] - origin] += 1
    if profile.all():  # an empty profile too
        acc = [""] * len(recs[0][2])
        for _, _, cells in recs:
            acc = _ref_combine_cells(acc, cells)
        return [acc]
    # valleys: runs of consecutive zero indices, split where they jump
    zeros = np.flatnonzero(profile == 0)
    runs = np.split(zeros, np.flatnonzero(np.diff(zeros) != 1) + 1)
    cuts = sorted(set([origin] + [origin + int(g.mean()) for g in runs if len(g) > 2] + [top]))
    row_iv = [(t, b) for t, b in zip(cuts, cuts[1:]) if b - t > 5]
    grouped = [[] for _ in row_iv]
    for y_top, y_bot, cells in recs:
        yc = (y_top + y_bot) / 2
        hit = [j for j, (t, b) in enumerate(row_iv) if t <= yc < b]
        if hit:
            grouped[hit[0]].append(cells)
    out = []
    for members in grouped:
        if members:
            acc = [""] * len(members[0])
            for cells in members:
                acc = _ref_combine_cells(acc, cells)
            out.append(acc)
    return out


def _ref_build_professional_grid(tok, intervals):
    """grid_builder.py:15-168 with the visual lines and cells built token
    by token."""
    order = np.lexsort((tok.x1, tok.y1)).tolist()
    groups = [[order[0]]]
    for i in order[1:]:
        if abs(int(tok.y1[i]) - int(tok.y1[groups[-1][-1]])) <= professional.Y_TOLERANCE:
            groups[-1].append(i)
        else:
            groups.append([i])
    groups = [sorted(g, key=tok.x1.tolist().__getitem__) for g in groups]
    stack, hier, depth = [], [], 0
    for g in groups:
        row = [""] * len(intervals)
        for i in g:
            c = (tok.x1[i] + tok.x2[i]) / 2.0
            for ci, (L, R) in enumerate(intervals):
                if L <= c < R:
                    row[ci] = (row[ci] + " " + tok.text[i]).strip()
                    break
        indent = int(tok.x1[g[0]])
        while stack and indent <= stack[-1][0]:
            stack.pop()
        hier.append([p[1] for p in stack] + row)
        depth = max(depth, len(stack))
        if row and row[0] and (len(row) < 3 or all(c == "" for c in row[1:])):
            stack.append((indent, row[0]))
    header_idx = professional._header_index(hier)
    body = hier[:header_idx] + hier[header_idx + 1 :]
    header = [""] * depth + hier[header_idx][depth:]
    return [[c.strip() for c in (r + [""] * len(header))[: len(header)]] for r in body], header


def _ref_dataset_rows(tok, lns):
    """dataset_builder.py:49-80: a profile at least 1 px tall, each token
    covering at least 1 px; rows taller than 5 px, else one full row."""
    idx = np.concatenate([ln.idx for ln in lns]).tolist()
    y_min, y_max = min(int(tok.y1[i]) for i in idx), max(int(tok.y2[i]) for i in idx)
    profile = np.zeros(max(1, y_max - y_min), dtype=int)
    for i in idx:
        start = max(0, int(tok.y1[i]) - y_min)
        profile[start:max(start + 1, int(tok.y2[i]) - y_min)] += 1
    zeros = np.flatnonzero(profile == 0)
    if zeros.size == 0:
        return [(y_min, y_max)]
    runs = np.split(zeros, np.flatnonzero(np.diff(zeros) != 1) + 1)
    cuts = [y_min] + [y_min + int(g.mean()) for g in runs if len(g) > 2] + [y_max]
    cuts = list(dict.fromkeys(cuts))
    return [(t, b) for t, b in zip(cuts, cuts[1:]) if b - t > 5] or [(y_min, y_max)]


def _ref_dataset_cells(tok, lns, columns):
    """dataset_builder.py:96-146: rows by ``t <= yc < b`` else the nearest
    row centre, columns by ``a <= xc <= b`` else the nearest column centre;
    every row up to the largest; (token, row, col) records in line order."""
    row_iv = _ref_dataset_rows(tok, lns)
    line_rows = []
    for ln in lns:
        yc = (ln.y1 + ln.y2) / 2.0
        hit = [j for j, (t, b) in enumerate(row_iv) if t <= yc < b]
        centres = [(t + b) / 2.0 for t, b in row_iv]
        line_rows.append(hit[0] if hit else int(np.argmin([abs(c - yc) for c in centres])))
    cells = [[[] for _ in columns] for _ in range(max(line_rows) + 1)]
    records = []
    for ln, r in zip(lns, line_rows):
        for i in ln.idx.tolist():
            xc = float((tok.x1[i] + tok.x2[i]) / 2.0)
            hit = [j for j, (a, b) in enumerate(columns) if a <= xc <= b]
            c = hit[0] if hit else int(np.argmin([abs((a + b) / 2.0 - xc) for a, b in columns]))
            records.append((tok.text[i], r, c))
            cells[r][c].append(tok.text[i])
    return [[" ".join(filter(None, c)).strip() for c in row] for row in cells], records


_grid_box = st.tuples(
    st.integers(0, 60),   # x1
    st.integers(0, 40),   # y1 (ties, gaps of exactly Y_TOLERANCE)
    st.integers(-3, 40),  # width: inverted and zero too
    st.integers(-3, 12),  # height: inverted and zero too
)
# any closed intervals: touching, overlapping, inverted, unsorted or none
_any_intervals = st.lists(st.tuples(st.integers(0, 100), st.integers(0, 100)), max_size=5)
# half-open intervals as the chained column profile yields them: sorted,
# not overlapping, some touching, some with gaps between
_sorted_intervals = st.lists(st.integers(0, 100), max_size=7, unique=True).map(sorted).flatmap(
    lambda cuts: st.lists(st.booleans(), min_size=len(cuts), max_size=len(cuts)).map(
        lambda keep: [(a, b) for a, b, k in zip(cuts, cuts[1:], keep) if k]
    )
)
_expected_cols = st.sampled_from((None, 1, 2, 3, 6))


def _grid_tokens(boxes):
    i64 = lambda vals: np.array(vals, dtype=np.int64)  # noqa: E731
    return TokenArrays(
        np.array([f"t{i}" for i in range(len(boxes))], dtype=object),
        i64([1] * len(boxes)),
        i64([b[0] for b in boxes]),
        i64([b[1] for b in boxes]),
        i64([max(0, b[0] + b[2]) for b in boxes]),
        i64([max(0, b[1] + b[3]) for b in boxes]),
        np.array([None] * len(boxes), dtype=object),
    )


def _outcome(fn):
    """``fn()``, or the type of the exception it raises (the LayoutLM
    example raises ValueError when no column is found, as the reference
    loops do)."""
    try:
        return fn()
    except Exception as exc:
        return type(exc)


@settings(max_examples=400, deadline=None)
@given(st.lists(_grid_box, min_size=1, max_size=30), st.one_of(_expected_cols, _any_intervals))
@example([(10, 0, 10, 5), (40, 20, 10, 5)], [(0, 20), (20, 50)])  # a centre on a shared edge
@example([(10, 0, 10, 5), (10, 3, 10, 5)], [])  # no columns; a gap-free profile
@example([(70, 0, 10, 5), (0, 20, 1, 5), (5, 9, 1, 0)], [(20, 30), (40, 50)])  # outside all
def test_generic_grid_matches_reference_loops(boxes, columns):
    """The generic and transformers grid (first closed interval else the
    nearest edge; rows by ``top <= yc < bot``, unmatched lines dropped) is
    the per-line loops' grid, for estimated columns coerced to fewer or
    more and for arbitrary column intervals."""
    tok = _grid_tokens(boxes)
    lns = lines.build_lines(tok)

    def cols():
        if isinstance(columns, list):
            return columns
        return layouts.estimate_columns(tok, lns, expected_n_cols=columns)

    # neither side raises, inverted boxes included
    got = layouts.merge_lines_into_rows(
        tok, lns, layouts.assign_words_to_columns(tok, lns, cols()), len(cols())
    )
    want = _ref_merge_lines_into_rows(_ref_assign_words_to_columns(tok, lns, cols()), tok, lns)
    assert got == want


@settings(max_examples=400, deadline=None)
@given(st.lists(_grid_box, min_size=1, max_size=30), st.one_of(st.none(), _sorted_intervals))
@example([(10, 0, 10, 5), (40, 5, 10, 5), (70, 11, 10, 5)], None)  # y1 gaps of 5 and 6
@example([(10, 0, 10, 5), (40, 0, 10, 5)], [(0, 20), (20, 50)])  # a centre on a shared edge
@example([(70, 0, 10, 5), (0, 0, 4, 5)], [(20, 30), (40, 50)])  # outside every column
def test_professional_grid_matches_reference_loops(boxes, intervals):
    """The professional grid (visual lines by y1 gaps over Y_TOLERANCE,
    half-open columns, words outside every column dropped, each line's
    first word's x1 as its indent) is the per-token loops' grid, for the
    chained column profile and for any sorted column intervals."""
    tok = _grid_tokens(boxes)
    with pytest.MonkeyPatch.context() as mp:
        if intervals is not None:
            mp.setattr(professional, "estimate_column_positions", lambda _: intervals)
        # neither side raises, inverted boxes included
        got = professional.build_professional_grid(tok)
        want = _ref_build_professional_grid(tok, professional.estimate_column_positions(tok))
    assert got == want


def _hocr_boxes(boxes) -> bytes:
    words = "".join(
        f'<span class="ocrx_word" title="bbox {x} {y} {max(0, x + w)} {max(0, y + h)}">t{i}</span>'
        for i, (x, y, w, h) in enumerate(boxes)
    )
    page = f'<div class="ocr_page" title="bbox 0 0 200 100">{words}</div>'
    return f"<html><body>{page}</body></html>".encode()


def _ref_layoutlm(tok, lns, columns):
    if not columns:
        raise ValueError("no columns detected")
    table, records = _ref_dataset_cells(tok, lns, columns)
    return (*layouts.detect_header_row(table), records)


@settings(max_examples=400, deadline=None)
@given(st.lists(_grid_box, min_size=1, max_size=30), st.one_of(_expected_cols, _any_intervals))
@example([(10, 0, 10, 5), (10, 6, 10, 2), (10, 20, 10, 5)], [(0, 15), (15, 40)])  # row gap <= 5
@example([(70, 0, 10, 5), (0, 9, 1, 5)], [(20, 30), (40, 50)])  # outside every column
@example([(10, 0, 10, 10), (10, 14, 10, 1), (10, 19, 10, 12)], [(0, 50)])  # a tie: lower row
@example([(10, 0, 10, 10), (10, 30, 10, -25), (10, 40, 10, 10)], [(0, 50)])  # a row with no line
@example([(0, 0, 40, 10), (50, 0, 40, 10), (0, 10, 40, 0)], None)  # zero-height lowest word
def test_dataset_grid_matches_reference_loops(boxes, columns):
    """The LayoutLM example's grid and (token, row, col) records (rows by
    ``t <= yc < b`` else the nearest row centre, columns by the first
    closed interval else the nearest column centre) are the per-token
    loops', for estimated columns coerced to fewer or more and for
    arbitrary column intervals."""
    html = _hocr_boxes(boxes)
    tok = scan_tokens_from_dom(parse_dom(html)[0])
    lns = lines.build_lines(tok)
    k = None if isinstance(columns, list) else columns
    with pytest.MonkeyPatch.context() as mp:
        if isinstance(columns, list):
            mp.setattr(dataset, "estimate_columns", lambda *_, **__: columns)
        ex = _outcome(lambda: dataset.build_layoutlm_example(html, expected_n_cols=k))
        want = _outcome(lambda: _ref_layoutlm(
            tok, lns, dataset.estimate_columns(tok, lns, expected_n_cols=k)
        ))
    got = ex if isinstance(ex, type) else (
        ex["table_header"], ex["table_rows"], list(zip(ex["words"], ex["row_ids"], ex["col_ids"]))
    )
    assert got == want
