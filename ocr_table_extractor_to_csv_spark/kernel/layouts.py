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
as the reference.  The dynamic and financial layouts get every line's
spans from one array pass over the document (``compute_line_spans``) and
assign cells line by line.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from statistics import median
from typing import List, Optional, Sequence, Tuple

import numpy as np

from .geometry import (
    coerce_interval_count,
    first_closed_interval,
    grid,
    half_open_interval,
    nearest_interval_inside_zero,
    percentile_linear,
    profile_intervals,
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

    y_top: int
    y_bot: int
    cells: List[str]
    num_count: int = 0


Span = Tuple[int, int, str]


def compute_line_spans(
    tok: TokenArrays, lines: List[Line], max_gap_px: Optional[int] = None
) -> List[List[Span]]:
    """Every line's spans ``(x1, right edge, text)``, from one array pass
    over the document (assign_financial.py:20-39, column_model.py:18-45).

    A line's tokens, in x1 order (``Line.idx`` order), merge while
    ``x1 - right edge <= gap``; the right edge is the running max of the
    span's x2, and a span's text is its tokens' texts space-joined.  The gap is ``max_gap_px`` (the
    financial layout's 18) or, when None, the line's own quantile: the P95
    (linear) of its positive gaps ``x1[k] - x2[k-1]``, at least 12, and
    18 when it has none.

    The running max is taken over the whole line before each token, not
    just over its span, and that breaks the line at the same tokens: x1
    is sorted, so every token of an earlier span ends more than the gap
    before every later token starts.  So no break depends on another, and
    one segmented running max decides them all."""
    n_lines = len(lines)
    sizes = np.array([len(ln.idx) for ln in lines], dtype=np.int64)
    idx = np.concatenate([ln.idx for ln in lines]) if lines else np.empty(0, np.int64)
    if idx.size == 0:
        return [[] for _ in lines]
    line = np.repeat(np.arange(n_lines), sizes)
    x1, x2 = tok.x1[idx], tok.x2[idx]
    head = np.concatenate(([True], line[1:] != line[:-1]))  # a line's first token
    limit = np.full(n_lines, 18 if max_gap_px is None else max_gap_px, dtype=np.int64)
    if max_gap_px is None:
        gap = x1[1:] - x2[:-1]
        pos = (gap > 0) & ~head[1:]
        gap_line = line[1:][pos]
        order = np.lexsort((gap[pos], gap_line))
        n = np.bincount(gap_line, minlength=n_lines)
        has = n > 0
        p95 = percentile_linear(
            gap[pos][order].astype(np.float64), (np.cumsum(n) - n)[has], n[has], 95.0
        )
        limit[has] = np.maximum(12, p95.astype(np.int64))
    # the running max of x2 within each line: dense ranks offset by the line
    # number keep every line's maxima above all earlier lines'
    u, rank = np.unique(x2, return_inverse=True)
    key = line * len(u) + rank
    runmax = u[np.maximum.accumulate(key) - line * len(u)]
    brk = head.copy()
    brk[1:] |= x1[1:] - runmax[:-1] > limit[line[1:]]
    starts = np.flatnonzero(brk)
    text = tok.text[idx].tolist()
    bounds = [*starts.tolist(), len(idx)]
    spans = [
        (a, b, " ".join(text[s:e]).strip())
        for a, b, s, e in zip(
            x1[starts].tolist(), np.maximum.reduceat(x2, starts).tolist(), bounds, bounds[1:]
        )
    ]
    cut = [0, *np.cumsum(np.bincount(line[starts], minlength=n_lines)).tolist()]
    return [spans[a:b] for a, b in zip(cut, cut[1:])]


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
    lo, hi = tok.x1[idx], tok.x2[idx]
    origin, top = int(lo.min()), int(hi.max())
    intervals = profile_intervals(lo, hi, origin, top, min_run=5, min_width=MIN_COL_WIDTH)
    # a gap-free profile is one full-extent column (columns.py:31-33)
    return coerce_interval_count(
        [(origin, top)] if intervals is None else intervals, expected_n_cols
    )


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
    # rows.py:46-52 keeps rows taller than 5 px
    row_iv = profile_intervals(lo, hi, int(lo.min()), int(hi.max()), min_run=2, min_width=6)
    if row_iv is None:
        return grid(tok.text[idx], np.zeros(len(idx), dtype=np.int64), col, 1, n_cols)
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
    for ln, spans in zip(lines, compute_line_spans(tok, lines, 18)):
        # spans come in x1 order, so both lists are x1-sorted
        numeric: List[str] = []
        textual: List[str] = []
        for _x1, _x2, txt in spans:
            (numeric if is_numeric_span_financial(txt) else textual).append(txt)
        col_a = col_b = ""
        if len(numeric) >= 2:
            col_a, col_b = numeric[-2], numeric[-1]  # newest_on_right
        elif len(numeric) == 1:
            col_a = numeric[0]
        label = " ".join(textual).strip()
        recs.append(Rec(ln.y1, ln.y2, [label, col_a, col_b], num_count=len(numeric)))
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


# column_model.py: global-gap fallback cut (at least MIN_SEP_PX, else the
# CUT_QUANTILE percentile of center gaps) and the +/- PAD_PX interval pad
MIN_SEP_PX = 35
CUT_QUANTILE = 90.0
PAD_PX = 24


def infer_numeric_columns(
    lines: List[Line], spans_per_line: List[List[Span]]
) -> Tuple[List[Tuple[int, int]], Optional[List[str]], List[List[bool]]]:
    """Hybrid column model (column_model.py:84-201): modal numeric-span
    count over the bottom 70% picks K<=4 columns; per-position (rightmost,
    2nd-rightmost, ...) bucket medians become centers; midpoint edges +/-
    pad form intervals.  Thin buckets (<max(5, 5% of lines)) force the
    global-gap fallback; year strings in the top 20% band name columns.

    Also returns whether each span is numeric (NUM_SPAN_RE), which
    ``assign_dynamic`` reuses: each span is classified once."""
    numeric = [[is_numeric_span_dynamic(s[2]) for s in spans] for spans in spans_per_line]
    if not lines:
        return [], None, numeric

    per_line: List[List[int]] = []
    for spans, flags in zip(spans_per_line, numeric):
        centers = [(x1 + x2) // 2 for (x1, x2, _txt), num in zip(spans, flags) if num]
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
            return [], None, numeric
        gaps = [b - a for a, b in zip(allc, allc[1:])]
        p = (
            percentile_linear(
                np.sort(np.asarray(gaps, dtype=np.float64)), 0, len(gaps), CUT_QUANTILE
            )
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
    return intervals, names, numeric


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
    spans_per_line: List[List[Span]],
    numeric: List[List[bool]],
) -> List[Rec]:
    """assign_dynamic.py:38-72: label = text spans left of the first numeric
    column only; numeric spans (``numeric``, one flag per span) fill the
    nearest column FIRST-WINS."""
    recs: List[Rec] = []
    if not numeric_columns:
        for ln in lines:
            label = " ".join(tok.text[i] for i in ln.idx)  # idx already x1-sorted
            recs.append(Rec(ln.y1, ln.y2, [label], num_count=0))
        return recs

    cols = sorted(numeric_columns, key=lambda ab: ab[0])
    first_L = cols[0][0]
    for ln, spans, flags in zip(lines, spans_per_line, numeric):
        label_parts: List[str] = []
        values = [""] * len(cols)
        for (x1, x2, txt), num in zip(spans, flags):
            if num:
                j = nearest_interval_inside_zero((x1 + x2) / 2.0, cols)
                values[j] = values[j] or txt.strip()
            elif x1 < first_L:
                label_parts.append(txt)
        label = " ".join(label_parts).strip()
        recs.append(Rec(ln.y1, ln.y2, [label] + values, num_count=sum(1 for v in values if v)))
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
