"""Tests of the benchmark's pure functions. No Spark session is started.

    python3 -m pytest perfbench/test_layers.py -q
"""

from __future__ import annotations

import datetime
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fits  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

# ------------------------------------------------------------ result digest


def test_digest_ignores_row_and_column_order():
    a = layers.result_digest(["x", "y"], [(1, "a"), (2, "b")])
    b = layers.result_digest(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    assert a["cols"] == ["x", "y"] and a["rows"] == 2


def test_digest_compares_floats_exactly_and_types_apart():
    base = layers.result_digest(["v"], [(0.1,)])
    assert base != layers.result_digest(["v"], [(0.1 + 1e-12,)])
    # an integer and the equal float are different results
    assert layers.result_digest(["v"], [(1,)]) != layers.result_digest(["v"], [(1.0,)])
    assert layers.result_digest(["v"], [(1,)]) != layers.result_digest(["w"], [(1,)])


def test_digest_normalises_nan_timestamps_and_sequences():
    ts = datetime.datetime(2024, 1, 1, 12)
    a = layers.result_digest(["a", "b", "c"], [(math.nan, ts, [1, 2.5])])
    b = layers.result_digest(["a", "b", "c"], [(float("nan"), ts, (1, 2.5))])
    assert a == b


# -------------------------------------------------------------- intervals


def test_union_length_merges_overlaps_and_nesting():
    assert layers.union_length([]) == 0.0
    assert layers.union_length([(0, 2), (1, 3)]) == 3
    assert layers.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert layers.union_length([(5, 6), (0, 1)]) == 2
    assert layers.union_length([(0, 1), (1, 2)]) == 2  # touching


def test_union_length_clips_to_window():
    spans = [(-5, 1), (2, 3), (9, 20)]
    assert layers.union_length(spans, 0, 10) == 1 + 1 + 1
    assert layers.union_length([(11, 12)], 0, 10) == 0


def test_uncovered_length_sums_the_gaps():
    assert layers.uncovered_length([], 3.0, 4.5) == 1.5
    assert math.isclose(layers.uncovered_length([(0.1, 0.4), (0.3, 0.5), (0.9, 1.1)], 0.0, 1.2), 0.6)
    assert layers.uncovered_length([(-1, 2), (5, 6)], 0, 4) == 2
    assert layers.uncovered_length([(0, 10)], 2, 4) == 0


def test_busy_plus_idle_is_the_window_when_spans_lie_inside():
    spans = [(0.1, 0.4), (0.3, 0.5), (0.9, 1.1)]
    busy, idle = layers.busy_idle(spans, 0.0, 1.2)
    assert math.isclose(busy, 0.4 + 0.2)
    assert math.isclose(busy + idle, 1.2, abs_tol=1e-12)
    assert layers.busy_idle([], 3.0, 4.5) == (0.0, 1.5)


def test_busy_plus_idle_exceeds_the_window_when_a_span_lies_outside():
    # a stage that ended 0.5 s after the window, and one entirely before it
    busy, idle = layers.busy_idle([(0.9, 1.7)], 0.0, 1.2)
    assert math.isclose(busy + idle, 1.2 + 0.5)
    busy, idle = layers.busy_idle([(-3.0, -2.0)], 0.0, 1.2)
    assert math.isclose(busy + idle, 1.2 + 1.0)


def _call(build=0.1, plan=0.2, execute=1.0, wall=1.3, busy=0.7, idle=0.3):
    return {"build_s": build, "plan_s": plan, "execute_s": execute, "wall_s": wall,
            "busy_s": busy, "idle_s": idle}


def test_identities_hold_within_clock_resolution():
    assert run.identities_hold(_call())
    assert run.identities_hold(_call(wall=1.3005, busy=0.701))


def test_identities_fail_on_untimed_work_or_a_stray_stage():
    assert not run.identities_hold(_call(wall=1.35))  # work outside the phases
    busy, idle = layers.busy_idle([(0.2, 0.9), (1.1, 1.6)], 0.0, 1.0)  # ends past execute
    assert not run.identities_hold(_call(busy=busy, idle=idle))


def test_self_time_subtracts_covered_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 2, "start": 5.0, "end": 8.0},  # runs past its parent
    ]
    self_s = layers.self_times(spans)
    assert self_s == {0: 5.0, 1: 2.0, 2: 2.0, 3: 1.0, 4: 3.0}


# ------------------------------------------------- status-store rendering


def test_parse_size_single_and_multi_task():
    assert layers.parse_size("1312.0 B") == 1312
    assert layers.parse_size("2.0 MiB") == 2 * 1024**2
    multi = "total (min, med, max (stageId: taskId))\n792.1 KiB (47.4 KiB, 97.7 KiB, 197.8 KiB (stage 15.0: task 85))"
    assert layers.parse_size(multi) == int(792.1 * 1024)
    assert layers.parse_size("345 ms") is None


def test_parse_duration_units():
    assert layers.parse_duration("0 ms") == 0.0
    assert math.isclose(layers.parse_duration("345 ms"), 0.345)
    assert layers.parse_duration("1.5 s") == 1.5
    assert layers.parse_duration("2.0 m") == 120.0
    multi = "total (min, med, max (stageId: taskId))\n10.5 s (241 ms, 2.3 s, 2.6 s (stage 15.0: task 82))"
    assert layers.parse_duration(multi) == 10.5
    assert layers.parse_duration("2.0 MiB") is None


# --------------------------------------------------------------- references


def test_fit_comparison_tolerance_and_shape():
    ref = {"c": [[1.0, 2.0]], "sizes": [3, 4]}
    assert fits.close({"c": [[1.0 + 1e-9, 2.0]], "sizes": [3, 4]}, ref)
    assert not fits.close({"c": [[1.01, 2.0]], "sizes": [3, 4]}, ref)
    assert not fits.close({"c": [[1.0, 2.0]], "sizes": [3, 5]}, ref)
    assert not fits.close({"c": [[1.0, 2.0]]}, ref)
    assert fits.close([0.0], [1e-12])
