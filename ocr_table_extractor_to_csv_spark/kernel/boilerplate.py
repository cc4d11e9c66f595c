"""Main-content extraction for regular (non-hOCR) HTML pages.

The reference operates only on hOCR; the north-star scope adds Common-Crawl
HTML, so this module defines a DETERMINISTIC boilerplate-strip spec in the
spirit of Boilerpipe/jusText (shallow text density + link density):

  * candidate blocks = deepest elements among BLOCK_TAGS that contain text;
  * blocks under nav/header/footer/aside/script/style/noscript/form are
    boilerplate;
  * a block is content iff its normalized text has >= MIN_CHARS chars and
    link_density (chars under <a> descendants / total chars) < MAX_LINK_DENSITY;
  * main_text = content block texts joined with "\n\n".

Plus plain <table> reconstruction: the first table with >= 2 rows and >= 2
columns is emitted through the same byte-exact CSV exporter (header = first
row).  Both rules are frozen as the engine's own golden spec (FIXTURES.md §3
`boiler` family) — there is no reference behavior to match here.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple
from xml.etree.ElementTree import Element

from .export import csv_bytes

BLOCK_TAGS = frozenset(
    "p div li h1 h2 h3 h4 h5 h6 blockquote pre article section td th dd dt figcaption".split()
)
BOILER_CONTAINERS = frozenset("nav header footer aside script style noscript form".split())

MIN_CHARS = 25
MAX_LINK_DENSITY = 0.33

_WS_RE = re.compile(r"\s+")


def _norm(text: str) -> str:
    return _WS_RE.sub(" ", text).strip()


def _tag(node: Element) -> str:
    # html.parser lowercases tag names but keeps a '}' in one ('{uri}tag')
    return node.tag.rsplit("}", 1)[-1]


def _link_chars(node: Element) -> int:
    """Chars of text under the outermost <a> elements at or below ``node``
    (explicit stack: nesting depth is unbounded in lenient HTML)."""
    total = 0
    stack = [node]
    while stack:
        n = stack.pop()
        if _tag(n) == "a":
            total += len(_norm("".join(n.itertext())))
        else:
            stack.extend(n)
    return total


def _emit_block(node: Element, boiler: bool, out: List[Tuple[str, float]]) -> bool:
    if _tag(node) in BLOCK_TAGS and not boiler:
        text = _norm("".join(node.itertext()))
        if text:
            out.append((text, _link_chars(node) / max(1, len(text))))
            return True
    return False


def _collect_blocks(root: Element, out: List[Tuple[str, float]]) -> None:
    """Post-order walk: a node is emitted as a block unless a descendant
    block was, so ancestors don't double-count nested blocks.  An explicit
    stack, not recursion: the lenient parser never auto-closes <p>/<li>/
    <div>, so a page of unclosed tags nests as deep as it has tags."""
    # frame: [node, under a boilerplate container, child iterator, child emitted]
    stack = [[root, _tag(root) in BOILER_CONTAINERS, iter(root), False]]
    while stack:
        frame = stack[-1]
        for c in frame[2]:
            stack.append([c, frame[1] or _tag(c) in BOILER_CONTAINERS, iter(c), False])
            break
        else:
            stack.pop()
            emitted = frame[3] or _emit_block(frame[0], frame[1], out)
            if emitted and stack:
                stack[-1][3] = True


def extract_main_text(root: Element) -> str:
    blocks: List[Tuple[str, float]] = []
    _collect_blocks(root, blocks)
    keep = [t for (t, d) in blocks if len(t) >= MIN_CHARS and d < MAX_LINK_DENSITY]
    return "\n\n".join(keep)


def extract_first_table(root: Element) -> Optional[Tuple[List[str], List[List[str]]]]:
    """First <table> with >= 2 rows and >= 2 columns -> (header, body)."""
    for node in root.iter():
        if _tag(node) != "table":
            continue
        rows: List[List[str]] = []
        for tr in node.iter():
            if _tag(tr) != "tr":
                continue
            cells = [
                _norm("".join(td.itertext()))
                for td in tr.iter()
                if _tag(td) in ("td", "th")
            ]
            if cells:
                rows.append(cells)
        if len(rows) >= 2 and max(len(r) for r in rows) >= 2:
            width = max(len(r) for r in rows)
            rows = [(r + [""] * width)[:width] for r in rows]
            return rows[0], rows[1:]
    return None


def extract_html_document(root: Element) -> Tuple[str, bytes, List[str], List[List[str]]]:
    """(main_text, csv_bytes, header, body) for a regular HTML page.
    No qualifying table -> 0-byte csv (same convention as an empty grid)."""
    main_text = extract_main_text(root)
    table = extract_first_table(root)
    if table is None:
        return main_text, b"", [], []
    header, body = table
    return main_text, csv_bytes(body, header), header, body
