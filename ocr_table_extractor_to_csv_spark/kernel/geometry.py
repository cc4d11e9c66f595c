"""Projection profiles, zero-run cuts, linear percentiles, interval
assignment, grid assembly.

These are the reference's numpy hot loops, re-expressed as fully vectorized
array passes.  The reference's five projection profiles (generic columns
and rows, the transformers layout's rows, the dataset builder's rows and
the professional grid's chained columns) differ only in thresholds, width
strictness and what a gap-free profile yields.  All of them go through
``profile_intervals``: each call site passes its thresholds and keeps its
own gap-free rule (layouts.py, professional.py, dataset.py; the
transformers layout reuses the generic code).

Citations: columns.py:23-70, rows.py:22-52, grid_builder.py:31-63,
dataset_builder.py:49-80, column_model.py:13-45, assign.py:16-24.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

import numpy as np


# --------------------------------------------------------------------------
# Coverage profile + zero-run valley cuts
# --------------------------------------------------------------------------


def _slice_bound(i: np.ndarray, n: int) -> np.ndarray:
    """Python's rule for a slice bound over a length-``n`` sequence: a
    negative bound counts from the end, then the bound clips to [0, n]."""
    return np.minimum(np.maximum(np.where(i < 0, i + n, i), 0), n)


def coverage_profile(lo: np.ndarray, hi: np.ndarray, origin: int, extent: int) -> np.ndarray:
    """The reference's ``profile[start:end] += 1`` loop over a zeroed
    profile of ``extent`` cells (columns.py:23-27), with ``start = lo -
    origin`` and ``end = hi - origin``, built from two bincounts and a
    cumsum.  Slice rules hold exactly, so inverted boxes and bounds past
    either end add what the loop adds: a negative bound counts from the
    end, bounds clip to the profile, and an empty slice adds nothing."""
    a = _slice_bound(lo - origin, extent)
    # an empty slice (end <= start) adds 1 and takes 1 at the same cell
    b = np.maximum(_slice_bound(hi - origin, extent), a)
    diff = np.bincount(a, minlength=extent + 1) - np.bincount(b, minlength=extent + 1)
    return np.cumsum(diff)[:-1]


def zero_run_cuts(profile: np.ndarray, origin: int, min_run: int) -> List[int]:
    """Centers of zero-valleys longer than ``min_run`` (strict >).

    Matches columns.py:29-41 / rows.py:33-47: a run of consecutive zero
    indices ``g`` yields a cut at ``origin + int(g.mean())`` iff
    ``len(g) > min_run``.  For a run spanning [s, e) of ints the mean is
    (s + e - 1) / 2; int() truncates (all coordinates are >= 0).
    """
    # run starts/ends via edge detection
    padded = np.concatenate(([False], profile == 0, [False]))
    edges = np.diff(padded.astype(np.int8))
    starts = np.flatnonzero(edges == 1)
    ends = np.flatnonzero(edges == -1)  # exclusive
    return [
        origin + int((s + e - 1) / 2)
        for s, e in zip(starts.tolist(), ends.tolist())
        if e - s > min_run
    ]


def profile_intervals(
    lo: np.ndarray,
    hi: np.ndarray,
    origin: int,
    top: int,
    *,
    min_run: int,
    min_width: int,
    chained: bool = False,
) -> Optional[List[Tuple[int, int]]]:
    """The valley split shared by every projection profile: the coverage
    profile of ``[lo, hi)`` over ``[origin, top)`` is cut at ``origin``, at
    the centre of each zero run longer than ``min_run`` and at ``top``;
    the pairs of consecutive cuts become intervals.

    * ``chained=False`` (columns.py:42-48, rows.py:46-52,
      dataset_builder.py:64-80): a pair is kept iff it is at least
      ``min_width`` wide; dropped pairs vanish.
    * ``chained=True`` (grid_builder.py:54-63): the left edge only advances
      when an interval is emitted, so short gaps merge into the next
      interval.

    Widths are integers, so a site whose reference keeps ``width > w``
    passes ``min_width=w + 1``.  Returns None when the profile has no zero
    cell, an empty or negative extent included: each site has its own rule
    for a gap-free profile (columns.py:31-33, rows.py:28-31)."""
    extent = top - origin
    if extent <= 0:
        return None
    profile = coverage_profile(lo, hi, origin, extent)
    if profile.all():
        return None
    cuts = sorted(set([origin] + zero_run_cuts(profile, origin, min_run) + [top]))
    out: List[Tuple[int, int]] = []
    if chained:
        left = cuts[0]
        for right in cuts[1:]:
            if right - left >= min_width:
                out.append((left, right))
                left = right
        return out
    return [(left, right) for left, right in zip(cuts, cuts[1:]) if right - left >= min_width]


# --------------------------------------------------------------------------
# Column-count coercion (columns.py:51-70)
# --------------------------------------------------------------------------


def coerce_interval_count(
    intervals: List[Tuple[int, int]], expected: Optional[int]
) -> List[Tuple[int, int]]:
    if not expected or expected <= 0 or len(intervals) == expected:
        return intervals
    ivs = list(intervals)
    while len(ivs) > expected:
        gaps = [ivs[i + 1][0] - ivs[i][1] for i in range(len(ivs) - 1)]
        if not gaps:
            break
        j = int(np.argmin(gaps))  # ties -> first (np.argmin)
        ivs = ivs[:j] + [(ivs[j][0], ivs[j + 1][1])] + ivs[j + 2 :]
    while len(ivs) < expected:
        widths = [r - l for l, r in ivs]
        if not widths:
            break
        j = int(np.argmax(widths))
        l, r = ivs[j]
        mid = l + widths[j] // 2
        ivs = ivs[:j] + [(l, mid), (mid, r)] + ivs[j + 1 :]
    return ivs


# --------------------------------------------------------------------------
# Linear percentile
# --------------------------------------------------------------------------


def percentile_linear(sorted_vals: np.ndarray, first, n, q: float):
    """np.percentile(..., method='linear') of the group ``sorted_vals[first:
    first + n]`` (sorted, n >= 1); ``first`` and ``n`` may be arrays, one
    entry per group, and the result is then one float per group.

    A direct lerp with np.percentile's formula (idx = q/100 * (n-1);
    v = a[floor] + frac * (a[ceil] - a[floor])), without its generic
    dispatch, so every group is one array step."""
    n = np.asarray(n)
    idx = (q / 100.0) * (n - 1)
    lo = idx.astype(np.int64)  # idx >= 0: truncation is floor
    a = sorted_vals[first + lo]
    b = sorted_vals[first + np.minimum(lo + 1, n - 1)]
    return a + (idx - lo) * (b - a)


# --------------------------------------------------------------------------
# Interval assignment and grid assembly
# --------------------------------------------------------------------------


def first_closed_interval(x: np.ndarray, intervals: Sequence[Tuple[int, int]]) -> np.ndarray:
    """Per ``x``: the lowest ``i`` with ``L_i <= x <= R_i``, else -1.  Any
    intervals (column intervals may touch, and coercion of an inverted
    extent leaves them unsorted), so every (x, interval) pair is tested."""
    L, R = np.asarray(intervals, dtype=np.float64).T
    inside = (L <= x[:, None]) & (x[:, None] <= R)
    return np.where(inside.any(axis=1), inside.argmax(axis=1), -1)


def half_open_interval(x: np.ndarray, intervals: Sequence[Tuple[int, int]]) -> np.ndarray:
    """Per ``x``: the ``i`` with ``L_i <= x < R_i``, else -1, for sorted
    intervals that do not overlap (profile rows, chained columns), so one
    binary search finds the only candidate."""
    if not intervals:
        return np.full(len(x), -1, dtype=np.int64)
    L, R = np.asarray(intervals, dtype=np.float64).T
    pos = np.searchsorted(L, x, side="right") - 1
    return np.where((pos >= 0) & (x < R[np.maximum(pos, 0)]), pos, -1)


def grid(
    texts: np.ndarray, row: np.ndarray, col: np.ndarray, n_rows: int, n_cols: int
) -> List[List[str]]:
    """The ``n_rows x n_cols`` table whose cell (r, c) is the space-join, in
    input order, of the ``texts`` labelled (r, c), and "" where none is.

    One stable argsort by ``row * n_cols + col`` groups the texts cell by
    cell, and each cell is one join.  Token texts are stripped and
    non-empty (the scan drops blank words), so this equals the reference's
    cell-by-cell unions that strip after every append."""
    cells = [""] * (n_rows * n_cols)
    if len(texts):
        key = row * n_cols + col
        order = np.argsort(key, kind="stable")
        key = key[order]
        starts = np.flatnonzero(np.concatenate(([True], key[1:] != key[:-1]))).tolist()
        ordered, key = texts[order].tolist(), key.tolist()
        for a, b in zip(starts, [*starts[1:], len(key)]):
            cells[key[a]] = " ".join(ordered[a:b])
    return [cells[r * n_cols:(r + 1) * n_cols] for r in range(n_rows)]


def nearest_interval_inside_zero(xc: float, intervals: Sequence[Tuple[int, int]]) -> int:
    """Distance 0 when inside else min edge distance; argmin
    (assign_dynamic.py:63-67, column_model.py:66-67)."""
    dists = [
        0 if (L <= xc <= R) else min(abs(xc - L), abs(xc - R)) for (L, R) in intervals
    ]
    return int(np.argmin(dists))
