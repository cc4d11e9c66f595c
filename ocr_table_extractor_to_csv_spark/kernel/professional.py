"""Professional layout: spatial grid + indentation hierarchy.

Reference: grid_builder.py:15-168, layout_professional.py:14-57.  This
layout is explicitly experimental in the reference (README.md:53-55) and
carries a known header-selection bug which we replicate bit-for-bit:
``find_header_row_index`` returns ``-1`` when no candidate exists, the
caller tests ``is not None`` (always true), so the "header" becomes the
LAST row and the body duplicates rows (``rows[:-1] + rows[0:]``).
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np

from .geometry import profile_intervals
from .hocr import TokenArrays

# grid_builder.py thresholds
Y_TOLERANCE = 5  # px: words within this y1 distance share a visual line
MIN_COL_WIDTH = 25
MIN_GAP_WIDTH = 5
HEADER_TEXT_THRESHOLD = 0.7


def group_words_by_y_tolerance(tok: TokenArrays) -> List[np.ndarray]:
    """grid_builder.py:15-29: stable sort by (y1, x1); a new visual line
    starts when |y1 - last appended word's y1| > Y_TOLERANCE (compares to the
    LAST word, not a band); members re-sorted by x1."""
    n = len(tok)
    if n == 0:
        return []
    order = np.lexsort((tok.x1, tok.y1))
    groups: List[List[int]] = [[int(order[0])]]
    for i in order[1:]:
        i = int(i)
        if abs(int(tok.y1[i]) - int(tok.y1[groups[-1][-1]])) <= Y_TOLERANCE:
            groups[-1].append(i)
        else:
            groups.append([i])
    out = []
    for g in groups:
        g = np.asarray(g, dtype=np.int64)
        out.append(g[np.argsort(tok.x1[g], kind="stable")])
    return out


def estimate_column_positions(tok: TokenArrays) -> List[Tuple[int, int]]:
    """grid_builder.py:31-63 — chained interval construction: the left edge
    advances only when an interval is emitted (strict > width)."""
    if len(tok) == 0:
        return []
    return profile_intervals(
        tok.x1, tok.x2, min_run=MIN_GAP_WIDTH, min_width=MIN_COL_WIDTH,
        strict_width=True, chained=True,
    )


def _grid_rows(
    tok: TokenArrays, line_groups: List[np.ndarray], intervals: List[Tuple[int, int]]
) -> List[List[str]]:
    """grid_builder.py:129-147: half-open interval test ``L <= c < R``,
    NO nearest fallback (unmatched words are dropped)."""
    rows: List[List[str]] = []
    for g in line_groups:
        row = ["" for _ in intervals]
        centers = (tok.x1[g] + tok.x2[g]) / 2.0
        for k, i in enumerate(g):
            c = float(centers[k])
            for ci, (L, R) in enumerate(intervals):
                if L <= c < R:
                    row[ci] = (row[ci] + " " + tok.text[int(i)]).strip()
                    break
        rows.append(row)
    return rows


def _hierarchy(
    tok: TokenArrays, line_groups: List[np.ndarray], grid_rows: List[List[str]]
) -> Tuple[List[List[str]], int]:
    """grid_builder.py:83-114: indentation stack machine.  A row is pushed
    as a parent when its first cell is non-empty and it is value-sparse
    (<3 cells or all non-first cells empty); parents with indent >= the
    current row's indent pop first; each row is prefixed with the live
    parents' descriptions."""
    if not line_groups or not grid_rows:
        return grid_rows, 0
    stack: List[Tuple[int, str]] = []
    out: List[List[str]] = []
    depth = 0
    for i, row in enumerate(grid_rows):
        indent = int(tok.x1[int(line_groups[i][0])]) if len(line_groups[i]) else -1
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
    line_groups = group_words_by_y_tolerance(tok)
    intervals = estimate_column_positions(tok)
    grid = _grid_rows(tok, line_groups, intervals)
    hier, depth = _hierarchy(tok, line_groups, grid)

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
