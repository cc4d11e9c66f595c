"""Table reconstruction layouts: generic, dynamic, financial.

Each function re-states the observable contract of the corresponding
reference routine (citations are file:line into the reference src).  The
reference deliberately uses FOUR distinct numeric regexes — they are kept
verbatim and separately because their accept-sets differ (e.g. the dynamic
NUM_RE accepts "1234" and "$", the financial NUM_TOKEN_RE rejects "1234"
but accepts "-").

The generic grid (also the transformers layout's first attempt) is built
in array steps over every token of the lines: each token's column, each
line's row, then ``geometry.grid`` joins every cell at once.  The
per-line loops it replaced are kept in ``tests/test_kernel_properties.py``
as the reference.  The dynamic and financial layouts still merge spans
and assign cells line by line.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from statistics import median
from typing import List, Optional, Sequence, Tuple

import numpy as np

from .geometry import (
    coerce_interval_count,
    coverage_profile,
    first_closed_interval,
    grid,
    half_open_interval,
    line_gap_quantile,
    merge_spans,
    nearest_interval_inside_zero,
    percentile_linear,
    profile_intervals,
    zero_run_cuts,
)
from .lines import Line
from .hocr import TokenArrays

# ---- numeric / text predicates (kept verbatim per call site) --------------

# column_model.py:8-11 & assign_dynamic.py:7-10 (identical there):
# matched against span text with spaces removed; all groups optional, so it
# also accepts "", "$", "()" and bare multi-digit runs via the "|\d+" arm.
NUM_SPAN_RE = re.compile(
    r"""^
    [\$\(]?\s* -?
    (?:\d{1,3}(?:[,\s]\d{3})+|\d+)? (?:\.\d+)? \s*[\)]?
    $""",
    re.VERBOSE,
)

# assign_financial.py:8-12: needs a digit or a solitary dash; NB the digit
# arm has NO "|\d+" alternative, so an unseparated "1234" does NOT match.
NUM_FINANCIAL_RE = re.compile(
    r"""^(
    -
    |
    \$?\(?-?\d{1,3}(?:[,\s]\d{3})*(?:\.\d+)?\)?
    )$""",
    re.VERBOSE,
)

# postprocess.py:9-16
NUM_LIKE_RE = re.compile(r"^\$?\(?-?\d{1,3}(?:[,\s]\d{3})*(?:\.\d+)?\)?$")

SECTION_RE = re.compile(r":\s*$")  # postprocess.py:6
FOOTER_RE = re.compile(r"las notas adjuntas", re.IGNORECASE)  # postprocess.py:7
YEAR_RE = re.compile(r"\b(19|20)\d{2}\b")  # column_model.py:7


def is_numeric_span_dynamic(txt: str) -> bool:
    return NUM_SPAN_RE.match(txt.replace(" ", "")) is not None


def is_numeric_span_financial(txt: str) -> bool:
    return NUM_FINANCIAL_RE.match(txt.strip().replace(" ", "")) is not None


def is_number_like(s: str) -> bool:
    if not s:
        return False
    z = s.strip().replace(" ", "")
    if z == "-":
        return True
    return NUM_LIKE_RE.match(z) is not None


@dataclass
class Rec:
    """One per source line of the financial and dynamic layouts: its cells
    and the numeric-cell count the row merge reads (assign_dynamic.py:69-71,
    assign_financial.py:88-92)."""

    page: int
    y_top: int
    y_bot: int
    cells: List[str]
    num_count: int = 0


def _line_spans(tok: TokenArrays, line: Line, max_gap_px: Optional[int] = None):
    """Span-merge one line; gap defaults to the line's own P95 quantile."""
    x1 = tok.x1[line.idx]
    x2 = tok.x2[line.idx]
    if max_gap_px is None:
        max_gap_px = line_gap_quantile(x1, x2)
    return merge_spans(tok.text[line.idx], x1, x2, max_gap_px)


# ===========================================================================
# GENERIC layout (columns.py, assign.py, rows.py:6-80, rows.py:137-162)
# ===========================================================================


MIN_COL_WIDTH = 25  # columns.py: narrower projection runs are not columns


def estimate_columns(
    tok: TokenArrays, lines: List[Line], expected_n_cols: Optional[int] = None
) -> List[Tuple[int, int]]:
    """Vertical projection profile -> column intervals (columns.py:6-70)."""
    idx = np.concatenate([ln.idx for ln in lines]) if lines else np.empty(0, np.int64)
    if idx.size == 0:
        return []
    intervals = profile_intervals(
        tok.x1[idx], tok.x2[idx], min_run=5, min_width=MIN_COL_WIDTH, strict_width=False
    )
    return coerce_interval_count(intervals, expected_n_cols)


def assign_words_to_columns(
    tok: TokenArrays, lines: List[Line], columns: List[Tuple[int, int]]
) -> np.ndarray:
    """Each line token's column, tokens in line order (assign.py:6-28): the
    first interval with ``L <= xc <= R``, else the nearest edge with
    np.argmin's first-min tie rule.  No columns -> no labels."""
    if not columns:
        return np.empty(0, dtype=np.int64)
    idx = np.concatenate([ln.idx for ln in lines])
    xc = (tok.x1[idx] + tok.x2[idx]) / 2.0
    col = first_closed_interval(xc, columns)
    miss = col < 0
    if miss.any():
        L, R = np.asarray(columns, dtype=np.float64).T
        x = xc[miss, None]
        col[miss] = np.minimum(np.abs(x - L), np.abs(x - R)).argmin(axis=1)
    return col


def merge_lines_into_rows(
    tok: TokenArrays, lines: List[Line], col: np.ndarray, n_cols: int
) -> List[List[str]]:
    """Horizontal projection profile -> row intervals -> one cell per
    (row, column) holding its tokens in line order (rows.py:8-80).  A
    line's row is the interval with ``top <= yc < bot``.  Quirks kept:
    lines whose y-center misses every row interval are DROPPED; a gap-free
    profile collapses everything into ONE row; rows without a line are
    left out."""
    if not n_cols:
        return []
    idx = np.concatenate([ln.idx for ln in lines])
    lo, hi = tok.y1[idx], tok.y2[idx]
    origin, top = int(lo.min()), int(hi.max())
    extent = top - origin
    profile = coverage_profile(lo, hi, origin, extent) if extent > 0 else np.ones(1)
    if not (profile == 0).any():
        return grid(tok.text[idx], np.zeros(len(idx), dtype=np.int64), col, 1, n_cols)

    cuts = sorted(set([origin] + zero_run_cuts(profile, origin, 2) + [top]))
    row_iv = [(t, b) for t, b in zip(cuts, cuts[1:]) if b - t > 5]
    line_row = half_open_interval(np.array([(ln.y1 + ln.y2) / 2 for ln in lines]), row_iv)
    used = np.unique(line_row[line_row >= 0])
    sizes = [len(ln.idx) for ln in lines]
    row = np.repeat(np.searchsorted(used, line_row), sizes)
    keep = np.repeat(line_row >= 0, sizes)
    return grid(tok.text[idx][keep], row[keep], col[keep], len(used), n_cols)


def detect_header_row(
    rows: List[List[str]], header_regexes: Optional[Sequence[str]] = None
) -> Tuple[Optional[List[str]], List[List[str]]]:
    """rows.py:137-162: default header = first row; regexes search a
    lowered ' | '-joined row within the first three rows."""
    if not rows:
        return None, []
    if header_regexes:
        patterns = [re.compile(rx) for rx in header_regexes]

        def hit(row: List[str]) -> bool:
            joined = " | ".join((c or "").lower() for c in row)
            return any(p.search(joined) for p in patterns)

        if hit(rows[0]):
            return rows[0], rows[1:]
        for i in range(1, min(3, len(rows))):
            if hit(rows[i]):
                return rows[i], rows[:i] + rows[i + 1 :]
    return rows[0], rows[1:]


# ===========================================================================
# FINANCIAL layout (assign_financial.py, rows.py:83-134, postprocess.py)
# ===========================================================================


def assign_financial_three_columns(tok: TokenArrays, lines: List[Line]) -> List[Rec]:
    """Two rightmost numeric spans -> value columns; every text span joins
    the label (assign_financial.py:41-93).  Span gap is FIXED at 18px."""
    recs: List[Rec] = []
    for ln in lines:
        spans = _line_spans(tok, ln, max_gap_px=18)
        if not spans:
            recs.append(Rec(ln.page, ln.y1, ln.y2, ["", "", ""]))
            continue
        numeric = [s for s in spans if is_numeric_span_financial(s[2])]
        textual = [s for s in spans if not is_numeric_span_financial(s[2])]
        numeric.sort(key=lambda s: s[0])
        col_a = col_b = ""
        if len(numeric) >= 2:
            col_a, col_b = numeric[-2][2], numeric[-1][2]  # newest_on_right
        elif len(numeric) == 1:
            col_a = numeric[0][2]
        label = " ".join(s[2] for s in sorted(textual, key=lambda s: s[0])).strip()
        recs.append(
            Rec(
                ln.page,
                ln.y1,
                ln.y2,
                [label, col_a, col_b],
                num_count=len(numeric),
            )
        )
    return recs


ROW_MERGE_FACTOR = 1.30  # rows.py: max fusable y-gap, in median line heights


def merge_financial_rows(recs: List[Rec]) -> List[List[str]]:
    """Adjacent-line fusion (rows.py:83-134): merge when the y-gap is within
    ``ROW_MERGE_FACTOR`` x median line height AND the pair is label-wrap (next has no
    numbers) or label-then-values (current has none, next has some); never
    merge two value-bearing lines.  Numeric cells fill first-wins."""
    if not recs:
        return []
    h_med = median([r.y_bot - r.y_top for r in recs])
    max_gap = int(ROW_MERGE_FACTOR * h_med)

    rows: List[List[str]] = []
    cur = list(recs[0].cells)
    cur_num = recs[0].num_count
    prev_bot = recs[0].y_bot
    for r in recs[1:]:
        gap = r.y_top - prev_bot
        merge = gap <= max_gap and (r.num_count == 0 or (cur_num == 0 and r.num_count > 0))
        if merge:
            fused: List[str] = []
            for i, (a, b) in enumerate(zip(cur, r.cells)):
                if i == 0:
                    fused.append(" ".join([a, b]).strip() if a and b else (a or b))
                else:
                    fused.append(a if a else b)
            cur = fused
            cur_num = max(cur_num, r.num_count)
            prev_bot = max(prev_bot, r.y_bot)
        else:
            rows.append(cur)
            cur = list(r.cells)
            cur_num = r.num_count
            prev_bot = r.y_bot
    rows.append(cur)
    return rows


def postprocess_financial(rows: List[List[str]]) -> List[List[str]]:
    """postprocess.py:18-61: footer drop, section carry, subtotal labeling,
    dash->0, and silent truncation to exactly 3 columns."""
    out: List[List[str]] = []
    section = ""
    for cells in rows:
        a, v1, v2 = (list(cells) + ["", "", ""])[:3]
        label = (a or "").strip()
        if FOOTER_RE.search(label):
            continue
        if SECTION_RE.search(label):
            section = label.rstrip(":").strip()
            out.append([label, "", ""])
            continue
        if not label and is_number_like(v1) and is_number_like(v2):
            a = f"Total {section}" if section else "Subtotal"
        if v1 and v1.strip() == "-":
            v1 = "0"
        if v2 and v2.strip() == "-":
            v2 = "0"
        out.append([a, v1, v2])
    return out


# ===========================================================================
# DYNAMIC layout (column_model.py, assign_dynamic.py)
# ===========================================================================


def compute_line_spans(tok: TokenArrays, lines: List[Line]):
    """Quantile-gap span merge per line, computed ONCE and shared by the
    whole dynamic path (the reference recomputes it in three places with
    identical inputs: column_model.py:104, :62, assign_dynamic.py:55)."""
    return [_line_spans(tok, ln) for ln in lines]


# column_model.py: global-gap fallback cut (at least MIN_SEP_PX, else the
# CUT_QUANTILE percentile of center gaps) and the +/- PAD_PX interval pad
MIN_SEP_PX = 35
CUT_QUANTILE = 90.0
PAD_PX = 24


def infer_numeric_columns(
    lines: List[Line], spans_per_line
) -> Tuple[List[Tuple[int, int]], Optional[List[str]]]:
    """Hybrid column model (column_model.py:84-201): modal numeric-span
    count over the bottom 70% picks K<=4 columns; per-position (rightmost,
    2nd-rightmost, ...) bucket medians become centers; midpoint edges +/-
    pad form intervals.  Thin buckets (<max(5, 5% of lines)) force the
    global-gap fallback; year strings in the top 20% band name columns."""
    if not lines:
        return [], None

    per_line: List[List[int]] = []
    for spans in spans_per_line:
        centers = [
            int((x1 + x2) // 2) for (x1, x2, txt) in spans if is_numeric_span_dynamic(txt)
        ]
        centers.sort()
        per_line.append(centers)
    ys = [ln.y1 for ln in lines]
    y_body = min(ys) + 0.30 * (max(ys) - min(ys))
    body_counts = [len(c) for ln, c in zip(lines, per_line) if ln.y1 >= y_body]

    k = 0
    if body_counts:
        vals, cnts = np.unique(np.asarray(body_counts), return_counts=True)
        pos = vals > 0
        if pos.any():
            k = int(vals[pos][int(np.argmax(cnts[pos]))])
    k = min(k, 4)

    intervals: List[Tuple[int, int]] = []
    if k >= 2:
        buckets: List[List[int]] = [[] for _ in range(k)]
        for centers in per_line:
            for pos in range(k):
                if len(centers) >= pos + 1:
                    buckets[pos].append(centers[-(pos + 1)])
        if not any(len(b) < max(5, 0.05 * len(per_line)) for b in buckets):
            ordered = sorted(int(np.median(b)) for b in buckets)
            edges = [(a + b) // 2 for a, b in zip(ordered, ordered[1:])]
            L = ordered[0] - PAD_PX
            for mid in edges:
                intervals.append((int(L), int(mid + PAD_PX)))
                L = int(mid - PAD_PX)
            intervals.append((int(L), int(ordered[-1] + PAD_PX)))

    if not intervals:
        allc = sorted(c for centers in per_line for c in centers)
        if not allc:
            return [], None
        gaps = [b - a for a, b in zip(allc, allc[1:])]
        p = (
            percentile_linear(np.sort(np.asarray(gaps, dtype=np.float64)), CUT_QUANTILE)
            if gaps
            else 0.0
        )
        thr = max(MIN_SEP_PX, int(p))
        cuts = [allc[0]]
        cuts += [(a + b) // 2 for a, b in zip(allc, allc[1:]) if (b - a) >= thr]
        cuts.append(allc[-1])
        raw = [(int(L), int(R)) for L, R in zip(cuts, cuts[1:]) if R - L >= 10]
        merged: List[Tuple[int, int]] = []
        for iv in raw:
            if not merged or iv[0] - merged[-1][1] > 8:
                merged.append(iv)
            else:
                merged[-1] = (merged[-1][0], max(merged[-1][1], iv[1]))
        intervals = [(int(L - PAD_PX), int(R + PAD_PX)) for (L, R) in merged][:4]

    names = (
        _year_names_from_top(lines, intervals, spans_per_line)
        if intervals
        else None
    )
    return intervals, names


def _year_names_from_top(
    lines: List[Line],
    intervals: List[Tuple[int, int]],
    spans_per_line,
) -> Optional[List[str]]:
    """column_model.py:47-82 (wrapped in a blanket try/except there)."""
    try:
        ys = [ln.y1 for ln in lines]
        if not ys:
            return None
        y_thr = min(ys) + 0.20 * (max(ys) - min(ys))
        votes: List[Tuple[int, str]] = []
        for ln, spans in zip(lines, spans_per_line):
            if ln.y1 <= y_thr:
                for (x1, x2, txt) in spans:
                    m = YEAR_RE.search(txt)
                    if m:
                        xc = (x1 + x2) // 2
                        votes.append(
                            (nearest_interval_inside_zero(xc, intervals), m.group(0))
                        )
        if not votes:
            return None
        names = [""] * len(intervals)
        for j in range(len(intervals)):
            got = [yr for (idx, yr) in votes if idx == j]
            if got:
                vals, cnts = np.unique(np.asarray(got), return_counts=True)
                names[j] = str(vals[int(np.argmax(cnts))])
        if any(names):
            return [nm if nm else f"Valor_{i + 1}" for i, nm in enumerate(names)]
        return None
    except Exception:
        return None


def assign_dynamic(
    tok: TokenArrays,
    lines: List[Line],
    numeric_columns: List[Tuple[int, int]],
    spans_per_line,
) -> List[Rec]:
    """assign_dynamic.py:38-72: label = text spans left of the first numeric
    column only; numeric spans fill nearest column FIRST-WINS."""
    recs: List[Rec] = []
    if not numeric_columns:
        for ln in lines:
            label = " ".join(tok.text[i] for i in ln.idx)  # idx already x1-sorted
            recs.append(Rec(ln.page, ln.y1, ln.y2, [label], num_count=0))
        return recs

    cols = sorted(numeric_columns, key=lambda ab: ab[0])
    first_L = cols[0][0]
    for ln, spans in zip(lines, spans_per_line):
        nums = [s for s in spans if is_numeric_span_dynamic(s[2])]
        texts = [s for s in spans if not is_numeric_span_dynamic(s[2])]
        label = " ".join(txt for (x1, _x2, txt) in texts if x1 < first_L).strip()
        values = [""] * len(cols)
        for (x1, x2, txt) in nums:
            j = nearest_interval_inside_zero((x1 + x2) / 2.0, cols)
            values[j] = values[j] or txt.strip()
        recs.append(
            Rec(
                ln.page,
                ln.y1,
                ln.y2,
                [label] + values,
                num_count=sum(1 for v in values if v),
            )
        )
    return recs


def resolve_dynamic_header(
    num_columns: int, names: Optional[Sequence[str]]
) -> List[str]:
    """main.py:46-54."""
    out = ["Cuenta"]
    for i in range(num_columns):
        if names and i < len(names) and names[i]:
            out.append(str(names[i]))
        else:
            out.append(f"Valor_{i + 1}")
    return out
