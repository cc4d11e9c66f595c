"""Professional layout: spatial grid + indentation hierarchy.

Reference: grid_builder.py:15-168, layout_professional.py:14-57.  This
layout is explicitly experimental in the reference (README.md:53-55) and
carries a known header-selection bug which we replicate bit-for-bit:
``find_header_row_index`` returns ``-1`` when no candidate exists, the
caller tests ``is not None`` (always true), so the "header" becomes the
LAST row and the body duplicates rows (``rows[:-1] + rows[0:]``).

The visual lines and the grid are array steps: two lexsorts and a cumsum
over the y1 gaps group the words, one binary search per word finds its
column, and ``geometry.grid`` joins every cell at once.  The per-token
loops they replaced are kept in ``tests/test_kernel_properties.py`` as the
reference.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np

from .geometry import grid, half_open_interval, profile_intervals
from .hocr import TokenArrays

# grid_builder.py thresholds
Y_TOLERANCE = 5  # px: words within this y1 distance share a visual line
MIN_COL_WIDTH = 25
MIN_GAP_WIDTH = 5
HEADER_TEXT_THRESHOLD = 0.7


def group_words_by_y_tolerance(tok: TokenArrays) -> Tuple[np.ndarray, np.ndarray]:
    """grid_builder.py:15-29: the tokens in visual-line order, and each
    one's visual line.  A stable sort by (y1, x1); a new line starts where
    y1 rises by more than Y_TOLERANCE over the token before it (the LAST
    word appended, not a band); members re-sorted by x1, stably."""
    order = np.lexsort((tok.x1, tok.y1))
    y1 = tok.y1[order]
    line = np.concatenate(([0], np.cumsum(y1[1:] - y1[:-1] > Y_TOLERANCE)))
    return order[np.lexsort((tok.x1[order], line))], line


def estimate_column_positions(tok: TokenArrays) -> List[Tuple[int, int]]:
    """grid_builder.py:31-63 — chained interval construction: the left edge
    advances only when an interval is emitted, wider than MIN_COL_WIDTH; a
    gap-free profile is one full-extent column."""
    if len(tok) == 0:
        return []
    origin, top = int(tok.x1.min()), int(tok.x2.max())
    intervals = profile_intervals(
        tok.x1, tok.x2, origin, top,
        min_run=MIN_GAP_WIDTH, min_width=MIN_COL_WIDTH + 1, chained=True,
    )
    return [(origin, top)] if intervals is None else intervals


def _hierarchy(
    indents: List[int], grid_rows: List[List[str]]
) -> Tuple[List[List[str]], int]:
    """grid_builder.py:83-114: indentation stack machine over the rows and
    their indents (each visual line's first word's x1).  A row is pushed
    as a parent when its first cell is non-empty and it is value-sparse
    (<3 cells or all non-first cells empty); parents with indent >= the
    current row's indent pop first; each row is prefixed with the live
    parents' descriptions."""
    stack: List[Tuple[int, str]] = []
    out: List[List[str]] = []
    depth = 0
    for indent, row in zip(indents, grid_rows):
        desc = row[0] if row else ""
        while stack and indent <= stack[-1][0]:
            stack.pop()
        out.append([p[1] for p in stack] + row)
        depth = max(depth, len(stack))
        if desc and (len(row) < 3 or all(c == "" for c in row[1:])):
            stack.append((indent, desc))
    return out, depth


def _header_index(rows: List[List[str]]) -> int:
    """grid_builder.py:65-81 verbatim semantics: all cells are str, so the
    ratio degenerates to 1.0 -> first row with a non-empty first cell and at
    least one more column wins; -1 when none."""
    best = -1
    best_ratio = 0.0
    for i, row in enumerate(rows):
        if not row or not row[0]:
            continue
        rest = row[1:]
        if not rest:
            continue
        ratio = sum(1 for c in rest if isinstance(c, str)) / len(rest)
        if ratio >= HEADER_TEXT_THRESHOLD and ratio > best_ratio:
            best_ratio = ratio
            best = i
    return best


def build_professional_grid(
    tok: TokenArrays,
) -> Tuple[List[List[str]], List[str]]:
    """grid_builder.py:116-168 -> (body_rows, header). Empty input -> ([], [])."""
    if len(tok) == 0:
        return [], []
    order, line = group_words_by_y_tolerance(tok)
    intervals = estimate_column_positions(tok)
    # grid_builder.py:129-147: half-open ``L <= c < R``, NO nearest
    # fallback (a word outside every interval is dropped); every visual
    # line is a row
    col = half_open_interval((tok.x1[order] + tok.x2[order]) / 2.0, intervals)
    keep = col >= 0
    rows = grid(tok.text[order][keep], line[keep], col[keep], int(line[-1]) + 1, len(intervals))
    first = np.flatnonzero(np.concatenate(([True], line[1:] != line[:-1])))
    hier, depth = _hierarchy(tok.x1[order[first]].tolist(), rows)

    header_idx = _header_index(hier)
    # reference bug kept: -1 is treated as found -> header = last row and
    # the body duplicates all rows (grid_builder.py:149-161)
    header_row = hier[header_idx]
    body = hier[:header_idx] + hier[header_idx + 1 :]
    header = ["" for _ in range(depth)] + header_row[depth:]

    width = len(header)
    body = [(r + [""] * width)[:width] for r in body]
    # cleaners.py:8-26: strip every body cell
    body = [[c.strip() for c in r] for r in body]
    return body, header
