"""LayoutLM training-example construction (reference entry point 2).

Reimplements dataset_builder.py:19-265 with its DELIBERATE divergences from
the extraction path (SURVEY.md §2: J4, J5-variant, A2-variant):
  * row profile guarantees >= 1px coverage per token
    (``end = max(start+1, y2-y_min)``, dataset_builder.py:58-62) and falls
    back to one full-extent row interval;
  * line->row assignment uses a nearest-CENTER fallback instead of dropping
    unmatched lines (dataset_builder.py:96-104);
  * token->column fallback measures distance to interval CENTERS, not edges
    (dataset_builder.py:108-119 — a different metric from assign.py:22-24);
  * labels: HEADER_COL_i / BODY_COL_i, OTHER for col_idx >= max_columns.

Rows and columns are labelled in array steps (one binary search per line
for its row, one interval test over all tokens for their columns, each
fallback only for the misses), and ``geometry.grid`` joins every cell at
once; the per-token loops they replaced are kept in
``tests/test_kernel_properties.py`` as the reference.

The reference reads bbox-normalization dimensions from the page IMAGE
(PIL); pages here have no image, so dimensions come from the ``ocr_page``
title bbox (falling back to the token extent) — documented substitution.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from .geometry import first_closed_interval, grid, half_open_interval, profile_intervals
from .hocr import TokenArrays, parse_dom, parse_title_bbox, scan_tokens_from_dom, _has_class
from .layouts import detect_header_row, estimate_columns
from .lines import Line, build_lines


def page_dims(root) -> Tuple[int, int]:
    for n in root.iter():
        if _has_class(n, "ocr_page"):
            bb = parse_title_bbox(n.get("title", ""))
            if bb:
                return bb[2], bb[3]
    return 0, 0


def normalize_box(box: Sequence[int], width: int, height: int) -> List[int]:
    """dataset_builder.py:37-46."""
    w, h = max(width, 1), max(height, 1)
    x1, y1, x2, y2 = box
    return [
        int(max(0, min(1000, round(1000 * x1 / w)))),
        int(max(0, min(1000, round(1000 * y1 / h)))),
        int(max(0, min(1000, round(1000 * x2 / w)))),
        int(max(0, min(1000, round(1000 * y2 / h)))),
    ]


def _row_intervals(tok: TokenArrays, lines: List[Line]) -> List[Tuple[int, int]]:
    idx = np.concatenate([ln.idx for ln in lines]) if lines else np.empty(0, np.int64)
    if idx.size == 0:
        return []
    y1 = tok.y1[idx]
    y2 = tok.y2[idx]
    y_min, y_max = int(y1.min()), int(y2.max())
    # a profile at least 1 px tall, each token covering at least 1 px
    # (dataset_builder.py:55-62); rows taller than 5 px are kept.  When the
    # profile has a gap it is y_max - y_min tall, so its last cut is y_max.
    out = profile_intervals(
        y1, np.maximum(y1 + 1, y2), y_min, y_min + max(1, y_max - y_min), min_run=2, min_width=6
    )
    # a gap-free profile, or one with no row left, is one full-extent row
    return out or [(y_min, y_max)]


def _line_rows(lines: List[Line], row_iv: List[Tuple[int, int]]) -> np.ndarray:
    """Each line's row (dataset_builder.py:96-104): the first interval with
    ``t <= yc < b``, else the nearest centre (np.argmin's first-min tie
    rule).  The intervals are sorted and disjoint, so the nearest centre is
    one of the two around ``yc``, the lower one on a tie."""
    yc = np.array([(ln.y1 + ln.y2) / 2.0 for ln in lines])
    row = half_open_interval(yc, row_iv)
    miss = row < 0
    if miss.any():
        centres = np.array([(t + b) / 2.0 for t, b in row_iv])
        y = yc[miss]
        j = np.searchsorted(centres, y)
        below, above = np.maximum(j - 1, 0), np.minimum(j, len(centres) - 1)
        row[miss] = np.where(np.abs(centres[below] - y) <= np.abs(centres[above] - y), below, above)
    return row


def _token_cols(xc: np.ndarray, columns: List[Tuple[int, int]]) -> np.ndarray:
    """Each token's column (dataset_builder.py:108-119): the first interval
    with ``a <= xc <= b``, else the nearest centre (first-min tie rule)."""
    col = first_closed_interval(xc, columns)
    miss = col < 0
    if miss.any():
        centres = np.array([(a + b) / 2.0 for a, b in columns])
        col[miss] = np.abs(centres - xc[miss, None]).argmin(axis=1)
    return col


def build_layoutlm_example(
    html: bytes,
    url: str = "",
    table_bbox: Optional[Tuple[int, int, int, int]] = None,
    expected_n_cols: Optional[int] = None,
    header_regexes: Optional[Sequence[str]] = None,
    max_columns: int = 6,
) -> Dict[str, object]:
    root, is_hocr = parse_dom(html)
    if not is_hocr:
        raise ValueError(f"not an hOCR document: {url}")
    tok = scan_tokens_from_dom(root, table_bbox)
    if len(tok) == 0:
        raise ValueError(f"no tokens in {url}")
    lines = build_lines(tok)
    if not lines:
        raise ValueError("no lines built")
    columns = estimate_columns(tok, lines, expected_n_cols=expected_n_cols)
    if not columns:
        raise ValueError("no columns detected")

    # aggregate grid + per-token (token, row, col) records in line order
    # (dataset_builder.py:122-146); every row up to the largest is emitted
    idx = np.concatenate([ln.idx for ln in lines])
    row = np.repeat(_line_rows(lines, _row_intervals(tok, lines)), [len(ln.idx) for ln in lines])
    col = _token_cols((tok.x1[idx] + tok.x2[idx]) / 2.0, columns)
    table = grid(tok.text[idx], row, col, int(row.max()) + 1, len(columns))

    header_row, body_rows = detect_header_row(
        table, list(header_regexes) if header_regexes else None
    )
    header_idx = None
    if header_row:
        for i, cells in enumerate(table):
            if cells == header_row:
                header_idx = i
                break

    width, height = page_dims(root)
    if width <= 0 or height <= 0:
        width, height = int(tok.x2.max()), int(tok.y2.max())

    row_ids, col_ids = row.tolist(), col.tolist()
    is_header = [header_idx is not None and r == header_idx for r in row_ids]
    labels = [
        "OTHER" if c >= max_columns else f"{'HEADER' if hdr else 'BODY'}_COL_{c}"
        for c, hdr in zip(col_ids, is_header)
    ]
    boxes = [
        normalize_box(box, width, height)
        for box in zip(*(a[idx].tolist() for a in (tok.x1, tok.y1, tok.x2, tok.y2)))
    ]

    return {
        "url": url,
        "words": tok.text[idx].tolist(),
        "bboxes": boxes,
        "labels": labels,
        "row_ids": row_ids,
        "col_ids": col_ids,
        "is_header": is_header,
        "table_header": list(header_row or []),
        "table_rows": body_rows,
        "n_columns": len(columns),
        "header_index": header_idx,
    }
