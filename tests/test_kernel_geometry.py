"""Geometry primitives pinned to the reference's thresholds and tie rules."""

import numpy as np

from ocr_table_extractor_to_csv_spark.kernel.geometry import (
    coerce_interval_count,
    coverage_profile,
    nearest_interval_inside_zero,
    profile_intervals,
    zero_run_cuts,
)
from ocr_table_extractor_to_csv_spark.kernel.hocr import TokenArrays
from ocr_table_extractor_to_csv_spark.kernel.layouts import compute_line_spans
from ocr_table_extractor_to_csv_spark.kernel.lines import Line


def _arr(*xs):
    return np.asarray(xs, dtype=np.int64)


def test_coverage_profile_matches_slice_increment():
    # upright, inverted (12 > 7, and an end before every start), zero-width,
    # past-the-end, negative-end and before-the-start boxes
    lo = _arr(0, 5, 5, 12, 6, 6, 9, 3, 2, 0, 4)
    hi = _arr(10, 12, 7, 7, 6, 15, -2, -20, -15, 0, 25)
    for origin in (0, 2, -3):
        prof = coverage_profile(lo, hi, origin, 12)
        ref = np.zeros(12, dtype=int)
        for a, b in zip(lo, hi):
            ref[a - origin:b - origin] += 1  # the reference's loop (columns.py:23-27)
        assert (prof == ref).all(), origin


def test_zero_run_cut_is_truncated_mean():
    # zero run over indices 10..16 (len 7 > 5) -> cut at int(mean)=13
    prof = np.ones(30, dtype=int)
    prof[10:17] = 0
    assert zero_run_cuts(prof, 100, 5) == [100 + 13]
    # len 6 run: mean = (10+15)/2 = 12.5 -> int -> 12
    prof = np.ones(30, dtype=int)
    prof[10:16] = 0
    assert zero_run_cuts(prof, 0, 5) == [12]
    # len == min_run is NOT a cut (strict >)
    prof = np.ones(30, dtype=int)
    prof[10:15] = 0
    assert zero_run_cuts(prof, 0, 5) == []


def test_profile_intervals_generic_vs_chained():
    # two tokens separated by a 10px gap
    lo, hi = _arr(0, 40), _arr(30, 80)
    # generic (columns.py): both intervals >= 25 wide survive
    got = profile_intervals(lo, hi, 0, 80, min_run=5, min_width=25)
    assert got == [(0, 34), (34, 80)]
    # chained (grid_builder.py): width > 25, i.e. >= 26; left edge advances
    # on emit only
    got = profile_intervals(lo, hi, 0, 80, min_run=5, min_width=26, chained=True)
    assert got == [(0, 34), (34, 80)]
    # short first interval: generic DROPS it, chained merges it into the next
    lo, hi = _arr(0, 40), _arr(10, 80)
    # zero run 10..39 (len 30) -> cut at int((10+39)/2) = 24
    got = profile_intervals(lo, hi, 0, 80, min_run=5, min_width=25)
    assert got == [(24, 80)]  # (0,24) width 24 < 25 dropped (columns.py:45-48)
    got = profile_intervals(lo, hi, 0, 80, min_run=5, min_width=26, chained=True)
    assert got == [(0, 80)]  # left edge held until width > 25 (grid_builder.py:56-62)


def test_no_gap_single_interval():
    # a gap-free profile (or an empty or negative extent) yields None: each
    # site has its own rule for it
    lo, hi = _arr(0, 5), _arr(10, 20)
    assert profile_intervals(lo, hi, 0, 20, min_run=5, min_width=25) is None
    assert profile_intervals(_arr(10), _arr(7), 10, 7, min_run=5, min_width=25) is None
    # a zero cell without a long enough run is not gap-free
    lo, hi = _arr(0, 11), _arr(10, 20)
    assert profile_intervals(lo, hi, 0, 20, min_run=5, min_width=25) == []


def test_coerce_merge_and_split():
    ivs = [(0, 30), (35, 60), (200, 300)]
    # merge closest pair first (gap 5 between first two)
    assert coerce_interval_count(ivs, 2) == [(0, 60), (200, 300)]
    # split widest at floor midpoint
    assert coerce_interval_count([(0, 100)], 2) == [(0, 50), (50, 100)]
    assert coerce_interval_count([(0, 101)], 2) == [(0, 50), (50, 101)]


def _one_line_spans(x1, x2, max_gap_px=None):
    """compute_line_spans over one line of tokens "a", "b", ... (x1-sorted)."""
    n = len(x1)
    text = np.asarray([chr(ord("a") + i) for i in range(n)], dtype=object)
    tok = TokenArrays(text, _arr(*[1] * n), x1, _arr(*[0] * n), x2, _arr(*[10] * n),
                      np.asarray([None] * n, dtype=object))
    line = Line(1, int(x1.min()), 0, int(x2.max()), 10, np.arange(n))
    (spans,) = compute_line_spans(tok, [line], max_gap_px)
    return spans


def test_gap_quantile_defaults():
    # the line's gap is the P95 (linear) of its positive gaps, [5, 5, 5, 100]
    # here: 85.75 -> 85, so only the 100 px gap breaks (column_model.py:18-27)
    x1 = _arr(0, 15, 30, 45, 200)
    x2 = _arr(10, 25, 40, 100, 220)
    assert int(np.percentile(np.array([5.0, 5.0, 5.0, 100.0]), 95)) == 85
    assert _one_line_spans(x1, x2) == [(0, 100, "a b c d"), (200, 220, "e")]
    # floor at 12 (column_model.py:27): gaps [1, 11] give a P95 of 10.5, so
    # without the floor the 11 px gap would break
    x1, x2 = _arr(0, 11, 32), _arr(10, 21, 40)
    assert _one_line_spans(x1, x2) == [(0, 40, "a b c")]
    # no positive gap: one span, whatever the default gap (18)
    assert _one_line_spans(_arr(0, 5), _arr(10, 20)) == [(0, 20, "a b")]


def test_merge_spans_running_max_edge():
    # token B nested inside A's x-range: running right edge keeps A's x2
    x1 = _arr(0, 10, 60)
    x2 = _arr(50, 20, 80)
    # gap c: 60 - 50 = 10 <= 18 -> all merge
    assert _one_line_spans(x1, x2, 18) == [(0, 80, "a b c")]
    # with max_gap 5: c splits off
    assert _one_line_spans(x1, x2, 5) == [(0, 50, "a b"), (60, 80, "c")]


def test_nearest_tie_goes_first():
    ivs = [(0, 10), (20, 30)]
    # xc=15 equidistant -> np.argmin picks index 0
    assert nearest_interval_inside_zero(15.0, ivs) == 0
    assert nearest_interval_inside_zero(25.0, ivs) == 1  # inside -> 0 dist
