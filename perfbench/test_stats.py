"""Tests for the benchmark's own arithmetic and bookkeeping.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import report  # noqa: E402
from checks import frames_match, row_hash  # noqa: E402
from stats import (geometric_mean, percentile, ratio,  # noqa: E402
                   self_time, tail_percentile, union_length)

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")


def test_percentile_matches_linear_rule():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 25) == 2.0
    assert percentile([1.0, 2.0], 75) == pytest.approx(1.75)
    assert percentile([7.0], 90) == 7.0


def test_geometric_mean():
    assert geometric_mean([2.0, 8.0]) == pytest.approx(4.0)
    assert geometric_mean([5.0]) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        geometric_mean([])
    with pytest.raises(ValueError):
        geometric_mean([1.0, 0.0])


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(9) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(199) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0


def test_ratio_of_zero_base_is_zero():
    assert ratio(3, 4) == 0.75
    assert ratio(5, 0) == 0.0


def test_union_length_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10)], 2, 4) == 2.0
    assert union_length([(3, 1)]) == 0.0
    assert union_length([(0, 1), (1, 2)]) == 2.0


def test_self_time_subtracts_covered_children():
    # a 10 s call with jobs at [1,3] and [2,5] (overlapping) and one
    # reaching past the call's end: covered = 4 + 1
    assert self_time(0, 10, [(1, 3), (2, 5), (9, 12)]) == 5.0
    assert self_time(0, 10, []) == 10.0


def test_frames_match_tolerates_float_noise_and_order():
    a = pd.DataFrame({"k": [2, 1], "x": [0.1 + 0.2, 1.0]})
    b = pd.DataFrame({"k": [1, 2], "x": [1.0, 0.3]})
    assert frames_match(a, b)
    assert not frames_match(a, b, ordered=True)
    assert not frames_match(a, pd.DataFrame({"k": [1, 2], "x": [1.0, 0.4]}))


def test_row_hash_ignores_order_only():
    a = pd.DataFrame({"k": [1, 2, 3], "s": ["a", "b", "c"]})
    assert row_hash(a) == row_hash(a.iloc[::-1])
    assert row_hash(a) != row_hash(a.assign(s=["a", "b", "d"]))


def test_benchmark_json_lists_the_reported_metrics():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert e2e == report.END_TO_END
    assert layer == report.PER_LAYER
    assert max(m["bound"] for m in bench["end_to_end"]) <= 0.25


def test_trace_op_self_time_excludes_layer_calls(tmp_path):
    from harness import Run
    run = Run("kernel_interactive", 1, 1.0, True, str(tmp_path), 4)
    op = run._new_span(kind="op", name="op", parent=None, start=0.0, end=1.0)
    run._new_span(kind="call", name="frame.slice", parent=op["id"],
                  start=0.1, end=0.4, self_ms=100.0)
    run._new_span(kind="call", name="frame.to_pandas", parent=op["id"],
                  start=0.3, end=0.6, self_ms=50.0)
    path = tmp_path / "trace.json"
    run.write_trace(str(path), {})
    spans = json.loads(path.read_text())["spans"]
    assert spans[0]["self_ms"] == pytest.approx(500.0)
    assert [s["parent"] for s in spans[1:]] == [op["id"], op["id"]]


def test_code_fingerprint_follows_the_sources(tmp_path):
    pkg = tmp_path / "cl_data_frame_spark"
    pkg.mkdir()
    (tmp_path / "perfbench").mkdir()
    (pkg / "a.py").write_text("x = 1\n")
    (pkg / "notes.txt").write_text("ignored")
    first = report.code_fingerprint(str(tmp_path))
    (pkg / "notes.txt").write_text("still ignored")
    assert report.code_fingerprint(str(tmp_path)) == first
    (pkg / "a.py").write_text("x = 2\n")
    assert report.code_fingerprint(str(tmp_path)) != first
