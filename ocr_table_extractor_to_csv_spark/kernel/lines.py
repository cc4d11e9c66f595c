"""Token -> line grouping (reference lines.py:6-63, structures.py:17-20).

Two branches, exactly as the reference:

* **line_id branch** (lines.py:14-26): active when *any* token carries a
  line_id.  Group key is ``(page, line_id or f"inferred_{page}_{int(yc)}")``
  in first-occurrence order; members sorted by x1 (stable); lines sorted by
  ``(page, y1, x1)`` of the union bbox.

* **overlap branch** (lines.py:28-63): tokens sorted by ``(page, yc, x1)``;
  greedy scan joins a token to the current band when
  ``overlap(band, token) / max(1, min(heights)) >= 0.5`` where the band
  expands to the union of member y-extents; a page change always flushes.

Both branches only find each token's line; one array step then builds
every ``Line``: a stable lexsort by (line, x1) orders the members, ``reduceat``
over each line's run gives its bbox, and a stable lexsort by (page, y1, x1)
orders the lines.  The overlap branch visits in Python only the tokens whose
page or y-extent differs from the token before them.  The per-token loops
this replaced are kept in ``tests/test_kernel_properties.py`` as the
reference.

Output is a list of ``Line`` views over the columnar TokenArrays — each line
holds the member token indices sorted by x1, so every downstream pass can
slice numpy arrays instead of materializing token objects.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Tuple

import numpy as np

from .hocr import TokenArrays


@dataclass
class Line:
    page: int
    x1: int
    y1: int
    x2: int
    y2: int
    idx: np.ndarray  # member token indices, sorted by x1 (stable); a view
    line_id: object = None


def _line_id_groups(tok: TokenArrays) -> Tuple[np.ndarray, List[int], list]:
    """line_id branch: the member order and line bounds of the groups keyed
    ``(page, line_id or f"inferred_{page}_{int(yc)}")`` in first-occurrence
    order, and each group's line_id."""
    pages = tok.page.tolist()
    keys = [
        (p, lid or f"inferred_{p}_{int((a + b) / 2.0)}")
        for p, lid, a, b in zip(pages, tok.line_id.tolist(), tok.y1.tolist(), tok.y2.tolist())
    ]
    groups: Dict[Tuple[int, str], int] = {}
    label = np.array([groups.setdefault(key, len(groups)) for key in keys])
    bounds = [0, *np.cumsum(np.bincount(label)).tolist()]
    return np.lexsort((tok.x1, label)), bounds, [lid for _, lid in groups]


def _band_starts(tok: TokenArrays, seq: np.ndarray) -> List[int]:
    """Overlap branch: the positions in ``seq`` (the tokens in visiting
    order) where a new band starts.  The greedy scan joins a token to the
    current band when ``overlap / max(1, min(heights)) >= 0.5`` and grows
    the band to the union; a page change always starts a new band.  A token
    with the page, y1 and y2 of the token before it and a positive height
    always joins (the band covers it), so only the other tokens are visited
    in Python."""
    page, lo, hi = tok.page[seq], tok.y1[seq], tok.y2[seq]
    visit = np.empty(len(seq), dtype=bool)
    visit[0] = True
    visit[1:] = (page[1:] != page[:-1]) | (lo[1:] != lo[:-1]) | (hi[1:] != hi[:-1])
    visit[1:] |= hi[1:] <= lo[1:]
    heads = np.flatnonzero(visit)
    starts = []
    cur_page = None
    band_lo = band_hi = 0
    for k, p, t_lo, t_hi in zip(
        heads.tolist(), page[heads].tolist(), lo[heads].tolist(), hi[heads].tolist()
    ):
        if p != cur_page:
            starts.append(k)
            cur_page, band_lo, band_hi = p, t_lo, t_hi
            continue
        # inline conditionals: 2 builtin min/max calls per token measurably
        # show up at 40k tokens/doc
        inter = (band_hi if band_hi < t_hi else t_hi) - (band_lo if band_lo > t_lo else t_lo)
        bh = band_hi - band_lo
        th = t_hi - t_lo
        denom = bh if bh < th else th
        if denom < 1:
            denom = 1
        if inter > 0 and inter / denom >= 0.5:
            if t_lo < band_lo:
                band_lo = t_lo
            if t_hi > band_hi:
                band_hi = t_hi
        else:
            starts.append(k)
            band_lo, band_hi = t_lo, t_hi
    return starts


def build_lines(tok: TokenArrays) -> List[Line]:
    n = len(tok)
    if n == 0:
        return []
    if tok.line_id.tolist().count(None) < n:
        idx, bounds, line_ids = _line_id_groups(tok)
    else:
        # overlap-inference branch; sort by (page, yc, x1), stable
        yc = (tok.y1 + tok.y2) / 2.0
        seq = np.lexsort((tok.x1, yc, tok.page))
        bounds = _band_starts(tok, seq) + [n]
        label = np.zeros(n, dtype=np.int64)
        label[bounds[1:-1]] = 1
        # members by x1 within each band, ties in visiting order
        idx = seq[np.lexsort((tok.x1[seq], np.cumsum(label)))]
        line_ids = None

    # one array step builds every line from its run idx[bounds[k]:bounds[k+1]]
    first = np.array(bounds[:-1])
    head = idx[first]
    page, x1 = tok.page[head], tok.x1[head]  # x1-sorted: min(x1) is the first
    y1 = np.minimum.reduceat(tok.y1[idx], first)
    x2 = np.maximum.reduceat(tok.x2[idx], first)
    y2 = np.maximum.reduceat(tok.y2[idx], first)
    p, a, b, c, d = page.tolist(), x1.tolist(), y1.tolist(), x2.tolist(), y2.tolist()
    return [
        Line(
            p[k], a[k], b[k], c[k], d[k],
            idx[bounds[k]:bounds[k + 1]],
            line_ids[k] if line_ids else None,
        )
        for k in np.lexsort((x1, y1, page)).tolist()
    ]
