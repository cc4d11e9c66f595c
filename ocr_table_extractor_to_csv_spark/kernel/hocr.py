"""hOCR / HTML token scan: html bytes -> columnar token arrays.

Behavioral parity with the reference scan (parser.py:7-62, structures.py:8-24):
  * XML-first parse, HTML fallback when no ``ocr_page`` node is found
    (parser.py:7-14).  The reference uses BeautifulSoup(lxml-xml / lxml);
    neither bs4 nor lxml ships in this environment, so we use stdlib
    ``xml.etree.ElementTree`` with a stdlib ``html.parser`` fallback.  For
    well-formed hOCR (all fixtures + tesseract output) both take the XML
    branch and produce identical token streams.
  * Pages are elements whose ``class`` contains ``ocr_page``, enumerated in
    document order starting at 1 (parser.py:28-31).
  * Words: ``class`` contains ``ocrx_word``; bbox from ``title`` via
    ``bbox (\\d+)\\s+(\\d+)\\s+(\\d+)\\s+(\\d+)`` (structures.py:6-15); words
    with no bbox or blank text are dropped (parser.py:43-52).
  * Optional crop: token kept iff fully inside ``table_bbox``
    (structures.py:22-24, parser.py:47-48).
  * line_id: first ``ocr_line`` on the page (document order) whose bbox
    contains the word bbox; missing ``id`` falls back to
    ``page_{p}_line_{i+1}`` where ``i`` is the line's document-order index —
    lines without a parsable bbox still consume an index (parser.py:33-58).

Output is columnar (struct-of-arrays), not per-token objects: the Spark
kernel keeps every downstream pass vectorized over numpy arrays.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html.parser import HTMLParser
from typing import List, Optional, Tuple
from xml.etree import ElementTree as ET

import numpy as np

BBOX_RE = re.compile(r"bbox (\d+)\s+(\d+)\s+(\d+)\s+(\d+)")

# HTML void elements (no closing tag) for the fallback parser.
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


def parse_title_bbox(title: Optional[str]) -> Optional[Tuple[int, int, int, int]]:
    """structures.py:8-15 — regex *search*, ints, None when absent.

    Fast path: the overwhelmingly common title is exactly
    ``bbox x1 y1 x2 y2`` — a split + isdigit check avoids the regex engine
    (~10% of total scan time at 40k tokens/doc); anything else (prefixes,
    trailing x_wconf, weird whitespace) falls back to the regex, so the
    accepted language is IDENTICAL."""
    if not title:
        return None
    if title.startswith("bbox "):
        parts = title[5:].split(" ")
        if (
            len(parts) == 4
            and parts[0].isdecimal()
            and parts[1].isdecimal()
            and parts[2].isdecimal()
            and parts[3].isdecimal()
        ):
            return int(parts[0]), int(parts[1]), int(parts[2]), int(parts[3])
    m = BBOX_RE.search(title)
    if not m:
        return None
    a, b, c, d = m.groups()
    return int(a), int(b), int(c), int(d)


@dataclass
class TokenArrays:
    """Columnar token table for a single document."""

    text: np.ndarray  # object
    page: np.ndarray  # int64
    x1: np.ndarray
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    line_id: np.ndarray  # object (str or None)

    def __len__(self) -> int:
        return len(self.text)

    @staticmethod
    def empty() -> "TokenArrays":
        o = np.empty(0, dtype=object)
        i = np.empty(0, dtype=np.int64)
        return TokenArrays(o, i.copy(), i.copy(), i.copy(), i.copy(), i.copy(), o.copy())


# --------------------------------------------------------------------------
# Minimal DOM for both parse paths: (tag, class, title, id, children, text)
# --------------------------------------------------------------------------


class _Node:
    """Element node for the HTML-fallback path; ``content`` interleaves text
    (str) and child nodes in document order so itertext() matches
    get_text()/lxml text ordering.  Exposes the same (iter / itertext / get)
    surface as an ElementTree Element so the scan code is parser-agnostic —
    well-formed hOCR takes the ET path, whose C-implemented iteration is
    ~10x faster than recursive Python generators."""

    __slots__ = ("tag", "attrs", "content")

    def __init__(self, tag: str, attrs: dict):
        self.tag = tag
        self.attrs = attrs
        self.content: List[object] = []  # str | _Node, in document order

    @property
    def children(self) -> List["_Node"]:
        return [c for c in self.content if isinstance(c, _Node)]

    def get(self, key: str, default=None):
        return self.attrs.get(key, default)

    def itertext(self):
        stack = [iter(self.content)]
        while stack:
            for c in stack[-1]:
                if isinstance(c, _Node):
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
                if isinstance(c, _Node):
                    yield c
                    stack.append(iter(c.content))
                    break
            else:
                stack.pop()


class _LenientHTML(HTMLParser):
    """Tiny tree-building HTML parser (fallback path, parser.py:14)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", {})
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, dict(attrs))
        self.stack[-1].content.append(node)
        if tag not in _VOID:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].content.append(_Node(tag, dict(attrs)))

    def handle_endtag(self, tag):
        # close the nearest matching open tag (lenient recovery)
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        self.stack[-1].content.append(data)


def _has_class(node, name: str) -> bool:
    c = node.get("class")
    return bool(c) and name in c


def _parse_dom(raw: str) -> Tuple[object, bool]:
    """XML-first with HTML fallback (parser.py:7-14). Returns (root, is_hocr);
    root is an ET Element (fast C iteration) on the XML path, a _Node on the
    HTML fallback — both expose iter/itertext/get."""
    try:
        # strip any leading BOM/whitespace which ET rejects
        xml_root = ET.fromstring(raw.lstrip("﻿ \t\r\n"))
        if any(_has_class(n, "ocr_page") for n in xml_root.iter()):
            return xml_root, True
        # parsed fine but no hOCR marker -> HTML reparse (parser.py:12-14)
    except ET.ParseError:
        pass
    root = parse_html(raw)
    is_hocr = any(_has_class(n, "ocr_page") for n in root.iter())
    return root, is_hocr


def parse_html(raw: str) -> _Node:
    """The lenient HTML tree of ``raw``, whatever its markup: the _Node tree
    the ``html`` layout walks even when ``raw`` is well-formed hOCR."""
    parser = _LenientHTML()
    try:
        parser.feed(raw)
        parser.close()
    except Exception:
        pass
    return parser.root


def parse_dom(html: bytes) -> Tuple[_Node, bool]:
    raw = html.decode("utf-8", errors="replace")
    return _parse_dom(raw)


def scan_tokens_from_dom(
    root: _Node, table_bbox: Optional[Tuple[int, int, int, int]] = None
) -> TokenArrays:
    """Full token scan of one parsed hOCR document (parser.py:16-62)."""
    texts: List[str] = []
    pages: List[int] = []
    boxes: List[Tuple[int, int, int, int]] = []
    line_ids: List[Optional[str]] = []

    page_nodes = [n for n in root.iter() if "ocr_page" in (n.get("class") or "")]
    for pi, page in enumerate(page_nodes, start=1):
        # ONE fused pass over descendants dispatching on class.  Word
        # geometry/text are resolved INLINE; only the word->line
        # containment is deferred to a post-pass (a word may sit inside a
        # line that appears later in document order, so line_boxes must be
        # complete first) — semantics identical to the old two-pass scan
        # (a node carrying both classes keeps both roles), but the word
        # nodes are touched once, not collected and re-walked (r5 pass:
        # drops the intermediate node list + second loop dispatch).
        line_boxes: List[Tuple[str, Tuple[int, int, int, int]]] = []
        page_words: List[Tuple[str, Tuple[int, int, int, int]]] = []
        li = 0
        it = page.iter()
        next(it)  # page.iter() yields the page node itself first
        for n in it:
            cls = n.get("class")
            if not cls:
                continue
            if "ocr_line" in cls:
                lid = n.get("id") or f"page_{pi}_line_{li + 1}"
                li += 1
                # inlined parse_title_bbox fast path (call overhead is ~1/3
                # of its cost at 40k tokens/doc); slow path falls back to
                # the function, so the accepted language is IDENTICAL
                title = n.get("title", "")
                if title and title.startswith("bbox "):
                    parts = title[5:].split(" ")
                    if (
                        len(parts) == 4
                        and parts[0].isdecimal()
                        and parts[1].isdecimal()
                        and parts[2].isdecimal()
                        and parts[3].isdecimal()
                    ):
                        lb = (int(parts[0]), int(parts[1]), int(parts[2]), int(parts[3]))
                    else:
                        lb = parse_title_bbox(title)
                else:
                    lb = parse_title_bbox(title)
                if lb:
                    line_boxes.append((lid, lb))
            if "ocrx_word" in cls:
                title = n.get("title", "")
                if title and title.startswith("bbox "):
                    parts = title[5:].split(" ")
                    if (
                        len(parts) == 4
                        and parts[0].isdecimal()
                        and parts[1].isdecimal()
                        and parts[2].isdecimal()
                        and parts[3].isdecimal()
                    ):
                        bb = (int(parts[0]), int(parts[1]), int(parts[2]), int(parts[3]))
                    else:
                        bb = parse_title_bbox(title)
                else:
                    bb = parse_title_bbox(title)
                if not bb:
                    continue
                if table_bbox is not None:
                    X1, Y1, X2, Y2 = table_bbox
                    if not (
                        bb[0] >= X1 and bb[1] >= Y1 and bb[2] <= X2 and bb[3] <= Y2
                    ):
                        continue
                # childless fast path (the normal hOCR word shape) avoids
                # the itertext generator; identical to the join for 0 kids
                if n.__class__ is not _Node and len(n) == 0:
                    text = (n.text or "").strip()
                else:
                    text = "".join(n.itertext()).strip()
                if not text:
                    continue
                page_words.append((text, bb))

        if line_boxes:
            for text, bb in page_words:
                x1, y1, x2, y2 = bb
                lid_hit: Optional[str] = None
                for lid, (Lx1, Ly1, Lx2, Ly2) in line_boxes:
                    if x1 >= Lx1 and y1 >= Ly1 and x2 <= Lx2 and y2 <= Ly2:
                        lid_hit = lid
                        break
                texts.append(text)
                pages.append(pi)
                boxes.append(bb)
                line_ids.append(lid_hit)
        else:
            for text, bb in page_words:
                texts.append(text)
                pages.append(pi)
                boxes.append(bb)
                line_ids.append(None)

    if not texts:
        return TokenArrays.empty()
    box_arr = np.asarray(boxes, dtype=np.int64)
    return TokenArrays(
        text=np.asarray(texts, dtype=object),
        page=np.asarray(pages, dtype=np.int64),
        x1=box_arr[:, 0],
        y1=box_arr[:, 1],
        x2=box_arr[:, 2],
        y2=box_arr[:, 3],
        line_id=np.asarray(line_ids, dtype=object),
    )
