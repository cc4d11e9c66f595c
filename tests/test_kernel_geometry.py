"""Geometry primitives pinned to the reference's thresholds and tie rules."""

import numpy as np

from ocr_table_extractor_to_csv_spark.kernel.geometry import (
    coerce_interval_count,
    coverage_profile,
    line_gap_quantile,
    merge_spans,
    nearest_interval_inside_zero,
    profile_intervals,
    zero_run_cuts,
)


def _arr(*xs):
    return np.asarray(xs, dtype=np.int64)


def test_coverage_profile_matches_slice_increment():
    lo, hi = _arr(0, 5, 5), _arr(10, 12, 7)
    prof = coverage_profile(lo, hi, 0, 12)
    ref = np.zeros(12, dtype=int)
    for a, b in zip(lo, hi):
        ref[a:b] += 1  # the reference's loop (columns.py:23-27)
    assert (prof == ref).all()


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
    got = profile_intervals(lo, hi, min_run=5, min_width=25, strict_width=False)
    assert got == [(0, 34), (34, 80)]
    # chained (grid_builder.py): strict > 25; left edge advances on emit only
    got = profile_intervals(lo, hi, min_run=5, min_width=25, strict_width=True, chained=True)
    assert got == [(0, 34), (34, 80)]
    # short first interval: generic DROPS it, chained merges it into the next
    lo, hi = _arr(0, 40), _arr(10, 80)
    # zero run 10..39 (len 30) -> cut at int((10+39)/2) = 24
    got = profile_intervals(lo, hi, min_run=5, min_width=25, strict_width=False)
    assert got == [(24, 80)]  # (0,24) width 24 < 25 dropped (columns.py:45-48)
    got = profile_intervals(lo, hi, min_run=5, min_width=25, strict_width=True, chained=True)
    assert got == [(0, 80)]  # left edge held until width > 25 (grid_builder.py:56-62)


def test_no_gap_single_interval():
    lo, hi = _arr(0, 5), _arr(10, 20)
    assert profile_intervals(lo, hi, min_run=5, min_width=25, strict_width=False) == [(0, 20)]


def test_coerce_merge_and_split():
    ivs = [(0, 30), (35, 60), (200, 300)]
    # merge closest pair first (gap 5 between first two)
    assert coerce_interval_count(ivs, 2) == [(0, 60), (200, 300)]
    # split widest at floor midpoint
    assert coerce_interval_count([(0, 100)], 2) == [(0, 50), (50, 100)]
    assert coerce_interval_count([(0, 101)], 2) == [(0, 50), (50, 101)]


def test_gap_quantile_defaults():
    # no positive gaps -> 18 (column_model.py:25)
    assert line_gap_quantile(_arr(0, 5), _arr(10, 20)) == 18
    # floor at 12 (column_model.py:27)
    assert line_gap_quantile(_arr(0, 20), _arr(10, 30)) == max(12, 10)
    # P95 with linear interpolation over [5,5,5,100]
    x1 = _arr(0, 15, 30, 45, 200)
    x2 = _arr(10, 25, 40, 100, 220)
    want = max(12, int(np.percentile(np.array([5.0, 5.0, 5.0, 100.0]), 95)))
    assert line_gap_quantile(x1, x2) == want


def test_merge_spans_running_max_edge():
    # token B nested inside A's x-range: running right edge keeps A's x2
    text = np.asarray(["a", "b", "c"], dtype=object)
    x1 = _arr(0, 10, 60)
    x2 = _arr(50, 20, 80)
    # gap c: 60 - 50 = 10 <= 18 -> all merge
    assert merge_spans(text, x1, x2, 18) == [(0, 80, "a b c")]
    # with max_gap 5: c splits off
    assert merge_spans(text, x1, x2, 5) == [(0, 50, "a b"), (60, 80, "c")]


def test_nearest_tie_goes_first():
    ivs = [(0, 10), (20, 30)]
    # xc=15 equidistant -> np.argmin picks index 0
    assert nearest_interval_inside_zero(15.0, ivs) == 0
    assert nearest_interval_inside_zero(25.0, ivs) == 1  # inside -> 0 dist
