"""hOCR / HTML token scan: html bytes -> columnar token arrays.

Behavioral parity with the reference scan (parser.py:7-62, structures.py:8-24):
  * XML-first parse, HTML fallback when no ``ocr_page`` node is found
    (parser.py:7-14).  The reference uses BeautifulSoup(lxml-xml / lxml);
    neither bs4 nor lxml ships in this environment, so we use stdlib
    ``xml.etree.ElementTree`` with a stdlib ``html.parser`` fallback that
    builds the same ``ET.Element`` tree through ``ET.TreeBuilder``: every
    reader walks one tree type.  For well-formed hOCR (all fixtures +
    tesseract output) both take the XML branch and produce identical token
    streams.
  * Pages are elements whose ``class`` contains ``ocr_page``, enumerated in
    document order starting at 1 (parser.py:28-31).
  * Words: ``class`` contains ``ocrx_word``; bbox from ``title`` via
    ``bbox (\\d+)\\s+(\\d+)\\s+(\\d+)\\s+(\\d+)`` (structures.py:6-15), parsed
    for words and lines alike by ``parse_title_bbox``; words with no bbox
    or blank text are dropped (parser.py:43-52).
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
    return tuple(map(int, m.groups())) if m else None


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


# Synthetic root of the lenient HTML tree; never an XML element name, so a
# root with another tag came from the XML path.
HTML_ROOT = "#root"


class _LenientHTML(HTMLParser):
    """Lenient tree-building HTML parser (fallback path, parser.py:14): feeds
    an ``ET.TreeBuilder`` under a synthetic ``HTML_ROOT`` element.  An end
    tag closes the nearest matching open tag and every tag opened after it;
    an end tag with no open match is ignored; a void or self-closed tag
    opens and closes at once."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tree = ET.TreeBuilder()
        self.tree.start(HTML_ROOT, {})
        self.open = [HTML_ROOT]

    def handle_starttag(self, tag, attrs):
        self.tree.start(tag, dict(attrs))
        if tag in _VOID:
            self.tree.end(tag)
        else:
            self.open.append(tag)

    def handle_startendtag(self, tag, attrs):
        self.tree.start(tag, dict(attrs))
        self.tree.end(tag)

    def handle_endtag(self, tag):
        for i in range(len(self.open) - 1, 0, -1):
            if self.open[i] == tag:
                self.close_open(i)
                return

    def handle_data(self, data):
        self.tree.data(data)

    def close_open(self, depth: int) -> None:
        """End the open tags from the innermost down to ``open[depth]``."""
        while len(self.open) > depth:
            self.tree.end(self.open.pop())


def _has_class(node: ET.Element, name: str) -> bool:
    c = node.get("class")
    return bool(c) and name in c


def parse_html(raw: str) -> ET.Element:
    """The lenient HTML tree of ``raw``, whatever its markup: the tree the
    ``html`` layout walks even when ``raw`` is well-formed hOCR.  Tags still
    open when the input ends, or when the parser gives up, are closed."""
    parser = _LenientHTML()
    try:
        parser.feed(raw)
        parser.close()
    except Exception:
        pass
    parser.close_open(0)
    return parser.tree.close()


def parse_dom(html: bytes) -> Tuple[ET.Element, bool]:
    """XML-first with HTML fallback (parser.py:7-14). Returns (root, is_hocr)."""
    raw = html.decode("utf-8", errors="replace")
    try:
        # strip any leading BOM/whitespace which ET rejects
        xml_root = ET.fromstring(raw.lstrip("﻿ \t\r\n"))
        if any(_has_class(n, "ocr_page") for n in xml_root.iter()):
            return xml_root, True
        # parsed fine but no hOCR marker -> HTML reparse (parser.py:12-14)
    except ET.ParseError:
        pass
    root = parse_html(raw)
    return root, any(_has_class(n, "ocr_page") for n in root.iter())


def _line_of(
    bb: Tuple[int, int, int, int], line_boxes: List[Tuple[str, Tuple[int, int, int, int]]]
) -> Optional[str]:
    """Id of the first line, in document order, whose bbox contains ``bb``."""
    x1, y1, x2, y2 = bb
    for lid, (Lx1, Ly1, Lx2, Ly2) in line_boxes:
        if x1 >= Lx1 and y1 >= Ly1 and x2 <= Lx2 and y2 <= Ly2:
            return lid
    return None


def scan_tokens_from_dom(
    root: ET.Element, table_bbox: Optional[Tuple[int, int, int, int]] = None
) -> TokenArrays:
    """Full token scan of one parsed hOCR document (parser.py:16-62)."""
    texts: List[str] = []
    pages: List[int] = []
    boxes: List[Tuple[int, int, int, int]] = []
    line_ids: List[Optional[str]] = []

    page_nodes = [n for n in root.iter() if _has_class(n, "ocr_page")]
    for pi, page in enumerate(page_nodes, start=1):
        # One pass over the page's descendants resolves line boxes and word
        # geometry/text; a node carrying both classes keeps both roles.  The
        # word->line containment waits for the pass to end: a word may sit
        # inside a line that appears later in document order.
        line_boxes: List[Tuple[str, Tuple[int, int, int, int]]] = []
        first_word = len(boxes)
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
                lb = parse_title_bbox(n.get("title"))
                if lb:
                    line_boxes.append((lid, lb))
            if "ocrx_word" in cls:
                bb = parse_title_bbox(n.get("title"))
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
                if len(n) == 0:
                    text = (n.text or "").strip()
                else:
                    text = "".join(n.itertext()).strip()
                if not text:
                    continue
                texts.append(text)
                pages.append(pi)
                boxes.append(bb)
        line_ids.extend(_line_of(bb, line_boxes) for bb in boxes[first_word:])

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
