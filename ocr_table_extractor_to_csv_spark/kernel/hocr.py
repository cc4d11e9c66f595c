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

The scan is columnar per page rather than a loop per word (the approach of
*Accelerating Python UDFs in Vectorized Query Execution*, CIDR 2022): one
preorder list of the document's nodes and their classes, one bulk numpy
parse of the page's word boxes, the crop as a mask, and word->line
containment through an exact y-bucket index, so a lined page costs time
linear in its words rather than words x lines.  The bulk parse only runs on
a page where every word title is exactly ``bbox x1 y1 x2 y2`` (the form of
the synthetic benchmark and fixture pages); any other title on the page
sends all its words through ``parse_title_bbox``.  Tesseract writes
``bbox x1 y1 x2 y2; x_wconf N`` on every word, so its pages take the
per-title parse; what share of real pages has the exact form is not known.
The output, errors included, is the per-word loop's (the reference kept in
``tests/test_kernel_properties.py``).  Two faults on one page (two titles
past Python's 4300-digit int limit, or one and a malformed ``table_bbox``)
may surface in another order than that loop's.

Output is columnar (struct-of-arrays), not per-token objects: the Spark
kernel keeps every downstream pass vectorized over numpy arrays.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html.parser import HTMLParser
from itertools import compress
from typing import List, Optional, Tuple
from xml.etree import ElementTree as ET

import numpy as np

BBOX_RE = re.compile(r"bbox (\d+)\s+(\d+)\s+(\d+)\s+(\d+)")
# A page's word titles, one per row, every one exactly ``bbox x1 y1 x2 y2``
# with ASCII numbers of at most 18 digits (so each fits int64): the form the
# bulk parse reads.  Every such title is one BBOX_RE accepts, with the same
# numbers.  Each row is fixed by its literals, so a failed fullmatch
# backtracks in time linear in the rows.
_EXACT_TITLES = re.compile(r"(?:bbox [0-9]{1,18} [0-9]{1,18} [0-9]{1,18} [0-9]{1,18}\n)*")
_I64_MAX = np.iinfo(np.int64).max
# Bound the word->line index's memory: a line touching more buckets than
# this is tested by every word instead, and a containment test covers at
# most this many (word, line) pairs per numpy step.
_TALL_BUCKETS = 16
_PAIR_CHUNK = 1 << 20

# HTML void elements (no closing tag) for the fallback parser.
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


def parse_title_bbox(title: Optional[str]) -> Optional[Tuple[int, int, int, int]]:
    """structures.py:8-15 — regex *search*, ints, None when absent."""
    m = BBOX_RE.search(title) if title else None
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


def _int64_or_object(rows) -> np.ndarray:
    """``rows`` of Python ints as an int64 array, or as an object array when
    a value does not fit; the document's final int64 cast then raises the
    error the reference's ``np.asarray`` raised, if a kept word holds it."""
    try:
        return np.asarray(rows, dtype=np.int64)
    except OverflowError:
        return np.asarray(rows, dtype=object)


def _word_boxes(words: List[ET.Element]) -> Tuple[np.ndarray, List[ET.Element]]:
    """The (k, 4) boxes of the ``words`` whose title carries one, and those
    words.  One bulk parse when every title is in the exact form; otherwise
    ``parse_title_bbox`` per title."""
    titles = [n.get("title") or "" for n in words]
    rows = "\n".join(titles) + "\n"
    # a title with a newline of its own would add a row
    if _EXACT_TITLES.fullmatch(rows) and rows.count("\n") == len(titles):
        boxes = np.fromstring(rows.replace("bbox ", ""), dtype=np.int64, sep=" ")
        return boxes.reshape(-1, 4), words
    parsed = [parse_title_bbox(t) for t in titles]
    words = [n for n, bb in zip(words, parsed) if bb]
    return _int64_or_object([bb for bb in parsed if bb]).reshape(-1, 4), words


def _crop_mask(boxes: np.ndarray, table_bbox) -> np.ndarray:
    """Which boxes lie fully inside ``table_bbox`` (structures.py:22-24)."""
    if (
        isinstance(table_bbox, tuple)
        and len(table_bbox) == 4
        and all(isinstance(v, int) for v in table_bbox)
    ):
        X1, Y1, X2, Y2 = table_bbox
        return (
            (boxes[:, 0] >= X1) & (boxes[:, 1] >= Y1)
            & (boxes[:, 2] <= X2) & (boxes[:, 3] <= Y2)
        )
    # any other crop (floats, malformed args): the reference's per-word
    # test, with Python's comparisons, short-circuit and errors
    X1, Y1, X2, Y2 = table_bbox
    return np.array(
        [
            x1 >= X1 and y1 >= Y1 and x2 <= X2 and y2 <= Y2
            for x1, y1, x2, y2 in boxes.tolist()
        ],
        dtype=bool,
    )


def _ranges(start: np.ndarray, count: np.ndarray) -> np.ndarray:
    """The concatenation of ``arange(s, s + c)`` over ``zip(start, count)``."""
    return np.arange(count.sum()) + np.repeat(start - np.cumsum(count) + count, count)


def _first_of(best, words, boxes, lines, cand, start, count) -> None:
    """Lower ``best[w]`` to the first line of ``cand[start:start + count]``
    (per word ``w`` of ``words``) whose box contains ``boxes[w]``, testing
    at most ``_PAIR_CHUNK`` (word, line) pairs per step."""
    if not len(words) or not len(cand):
        return
    start = np.broadcast_to(start, words.shape)
    count = np.broadcast_to(count, words.shape)
    ends = np.cumsum(count)
    lo = 0
    while lo < len(words):
        done = ends[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(ends, done + _PAIR_CHUNK, "right")))
        c = count[lo:hi]
        w = np.repeat(words[lo:hi], c)
        j = cand[_ranges(start[lo:hi], c)]
        a, b = boxes[w], lines[j]
        inside = (
            (a[:, 0] >= b[:, 0]) & (a[:, 1] >= b[:, 1])
            & (a[:, 2] <= b[:, 2]) & (a[:, 3] <= b[:, 3])
        )
        np.minimum.at(best, w[inside], j[inside])
        lo = hi


def _first_line(boxes: np.ndarray, lines: np.ndarray) -> np.ndarray:
    """Per word box, the index of the first line box, in document order,
    that contains it; ``len(lines)`` when none does.

    An exact y-bucket index (linear in the page, not words x lines).
    Buckets are the median line height tall, and each upright line is
    registered in every bucket its y-range touches.  An upright word
    (y1 <= y2) tests only the lines of its y1 bucket: a line that contains
    it covers its y1.  Page-tall lines, which would touch more than
    ``_TALL_BUCKETS`` buckets, are tested by every upright word instead.
    An inverted line (y1 > y2) can only contain an inverted word, and an
    inverted word can sit in a line that covers neither of its y's, so
    inverted words test every line."""
    best = np.full(len(boxes), len(lines))
    ly1, ly2 = lines[:, 1], lines[:, 3]
    upright = ly1 <= ly2
    height = max(1, int(np.median(ly2[upright] - ly1[upright]))) if upright.any() else 1
    first = ly1 // height
    extra = ly2 // height - first  # buckets touched beyond the first
    short = np.flatnonzero(upright & (extra < _TALL_BUCKETS))
    tall = np.flatnonzero(upright & (extra >= _TALL_BUCKETS))
    # (bucket, line) registrations, sorted by bucket, then by line
    span = extra[short] + 1
    bucket = _ranges(first[short], span)
    line = np.repeat(short, span)
    order = np.lexsort((line, bucket))
    bucket, line = bucket[order], line[order]

    words = np.flatnonzero(boxes[:, 1] <= boxes[:, 3])
    key = boxes[words, 1] // height
    lo = np.searchsorted(bucket, key, "left")
    _first_of(best, words, boxes, lines, line, lo, np.searchsorted(bucket, key, "right") - lo)
    _first_of(best, words, boxes, lines, tall, 0, len(tall))
    inverted = np.flatnonzero(boxes[:, 1] > boxes[:, 3])
    _first_of(best, inverted, boxes, lines, np.arange(len(lines)), 0, len(lines))
    return best


def _scan_page(
    nodes: List[ET.Element],
    classes: List[str],
    pi: int,
    table_bbox: Optional[Tuple[int, int, int, int]],
) -> Optional[Tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Page ``pi``'s kept words, from its descendants ``nodes`` in
    document order and their ``classes`` ("" for none), as (text, (k, 4)
    boxes, line id) columns, or None when it keeps none.  A node carrying
    both classes keeps both roles."""
    lines = [n for n, c in zip(nodes, classes) if "ocr_line" in c]
    words = [n for n, c in zip(nodes, classes) if "ocrx_word" in c]
    line_boxes = [parse_title_bbox(n.get("title")) for n in lines]
    if not words:
        return None
    boxes, words = _word_boxes(words)
    if not words:
        return None
    if table_bbox is not None:
        keep = _crop_mask(boxes, table_bbox)
        boxes, words = boxes[keep], list(compress(words, keep.tolist()))
    # childless fast path (the normal hOCR word shape) avoids the itertext
    # generator; identical to the join for 0 kids
    text = np.array(
        [
            (n.text or "").strip() if len(n) == 0 else "".join(n.itertext()).strip()
            for n in words
        ],
        dtype=object,
    )
    keep = text.astype(bool)
    if not keep.all():
        text, boxes = text[keep], boxes[keep]
    if not len(text):
        return None
    if boxes.dtype == object:
        boxes = _int64_or_object(boxes.tolist())

    # lines without a parsable bbox still consume an index; a line whose
    # left or top edge is beyond int64 contains no word, and one whose right
    # or bottom edge is contains every word's
    ids = [
        (n.get("id") or f"page_{pi}_line_{i + 1}", bb)
        for i, (n, bb) in enumerate(zip(lines, line_boxes))
        if bb and bb[0] <= _I64_MAX and bb[1] <= _I64_MAX
    ]
    line_id = np.full(len(text), None, dtype=object)
    if ids and boxes.dtype != object:
        lb = np.array(
            [(x1, y1, min(x2, _I64_MAX), min(y2, _I64_MAX)) for _, (x1, y1, x2, y2) in ids],
            dtype=np.int64,
        )
        names = np.array([lid for lid, _ in ids] + [None], dtype=object)
        line_id = names[_first_line(boxes, lb)]
    return text, boxes, line_id


def scan_tokens_from_dom(
    root: ET.Element, table_bbox: Optional[Tuple[int, int, int, int]] = None
) -> TokenArrays:
    """Full token scan of one parsed hOCR document (parser.py:16-62)."""
    # one preorder list: a page's descendants follow it, a nested page's
    # nodes belong to every enclosing page too
    nodes = list(root.iter())
    classes = [n.get("class", "") for n in nodes]
    pages = [i for i, c in enumerate(classes) if "ocr_page" in c]
    cols = []
    for pi, i in enumerate(pages, start=1):
        end = i + len(list(nodes[i].iter()))
        page = _scan_page(nodes[i + 1:end], classes[i + 1:end], pi, table_bbox)
        if page is not None:
            cols.append((pi, page))
    if not cols:
        return TokenArrays.empty()
    text, boxes, line_id = (np.concatenate(col) for col in zip(*(c for _, c in cols)))
    boxes = boxes.astype(np.int64, copy=False)
    return TokenArrays(
        text=text,
        page=np.repeat([pi for pi, _ in cols], [len(c[0]) for _, c in cols]),
        x1=boxes[:, 0],
        y1=boxes[:, 1],
        x2=boxes[:, 2],
        y2=boxes[:, 3],
        line_id=line_id,
    )
