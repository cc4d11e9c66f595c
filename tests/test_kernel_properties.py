"""Property-based kernel tests (SURVEY.md §5.2.3): random token layouts ->
structural invariants + determinism, across every layout."""

from html.parser import HTMLParser
from itertools import takewhile

import hypothesis.strategies as st
import pytest
from hypothesis import given, settings

from ocr_table_extractor_to_csv_spark.kernel import extract as kernel_extract
from ocr_table_extractor_to_csv_spark.kernel import extract_document, hocr

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
    """The scan keeps a word iff parse_title_bbox accepts its title, with
    that function's box (adversarial titles: fast-path hits, fast-path
    misses that the regex accepts, and rejects)."""
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
