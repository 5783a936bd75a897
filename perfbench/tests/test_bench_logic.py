"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from perfbench.checks import compare
from perfbench.spans import Span, percentile, self_time, tail
from perfbench.sparkstats import plan_counts

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- the "at least ten samples beyond" tail rule ------------------------------

def test_tail_picks_the_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 1001)]  # 1000 samples
    pct, value, beyond = tail(values)
    assert (pct, value, beyond) == (99.0, 990.0, 10)


def test_tail_steps_down_when_samples_are_few():
    pct, value, beyond = tail([float(i) for i in range(1, 200)])  # 199: p95 leaves 9
    assert (pct, beyond) == (90.0, 19)
    assert value == percentile([float(i) for i in range(1, 200)], 90)


def test_tail_of_too_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 0)
    assert tail([float(i) for i in range(99)]) == (100.0, 98.0, 0)
    assert tail([float(i) for i in range(100)]) == (90.0, 89.0, 10)


def test_tail_of_few_samples_in_passes_is_the_median_slowest_call():
    passes = [[1.0, 4.0, 2.0], [1.0, 9.0], [3.0, 5.0, 1.0]]  # slowest: 4, 9, 5
    values = [v for p in passes for v in p]
    assert tail(values, passes) == (100.0, 5.0, 0)
    assert tail(values) == (100.0, 9.0, 0)
    many = [float(i) for i in range(1, 1001)]
    assert tail(many, [many[:500], many[500:]]) == tail(many)  # the ladder wins when it applies


def test_percentile_is_nearest_rank():
    assert percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert percentile([1.0, 2.0], 50) == 1.0
    with pytest.raises(ValueError):
        percentile([], 50)


# -- span self time --------------------------------------------------------------

def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", parent, start, end)


def test_self_time_subtracts_children_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0), _span(3, 6.0, 7.0, 0)]
    # covered: [1, 4] and [6, 7] = 4 s
    assert self_time(parent, kids) == pytest.approx(6.0)


def test_self_time_clips_children_to_the_parent():
    parent = _span(0, 5.0, 10.0)
    kids = [_span(1, 3.0, 6.0, 0), _span(2, 9.0, 12.0, 0), _span(3, 11.0, 12.0, 0)]
    assert self_time(parent, kids) == pytest.approx(3.0)


def test_self_time_without_children_is_the_duration():
    assert self_time(_span(0, 1.0, 2.5), []) == pytest.approx(1.5)


# -- result compare --------------------------------------------------------------------

def test_compare_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
    b = pd.DataFrame({"v": ["y", "x"], "k": [2, 1]})
    assert compare(a, b) == []


def test_floats_compare_exactly():
    a = pd.DataFrame({"s": [3.7e10 + 7.6e-6], "t": [0.1 + 0.2]})
    assert compare(a, pd.DataFrame({"s": [3.7e10 + 7.6e-6], "t": [0.1 + 0.2]})) == []
    assert "'s'" in compare(a, pd.DataFrame({"s": [3.7e10], "t": [0.1 + 0.2]}))[0]
    assert "'t'" in compare(a, pd.DataFrame({"s": [3.7e10 + 7.6e-6], "t": [0.3]}))[0]


def test_an_integer_column_never_matches_a_float_one():
    ints = pd.DataFrame({"n": pd.Series([1, 2, 3], dtype="int64")})
    floats = pd.DataFrame({"n": pd.Series([1.0, 2.0, 3.0], dtype="float64")})
    assert "dtype-kind" in compare(ints, floats)[0]
    assert "dtype-kind" in compare(floats, ints)[0]
    assert compare(ints, ints.copy()) == []


def test_compare_reports_shape_and_value_mismatches():
    assert "row count" in compare(pd.DataFrame({"a": [1]}), pd.DataFrame({"a": [1, 2]}))[0]
    assert "columns" in compare(pd.DataFrame({"a": [1]}), pd.DataFrame({"b": [1]}))[0]
    assert compare(pd.DataFrame({"a": [float("nan")]}), pd.DataFrame({"a": [float("nan")]})) == []
    assert compare(pd.DataFrame({"a": [[1, 2]]}), pd.DataFrame({"a": [[1, 3]]}))


# -- plan node counts -----------------------------------------------------------------

def test_plan_counts_read_only_the_final_adaptive_plan():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(3) BroadcastHashJoin [k#1], [k#2], Inner, BuildRight
   :- ShuffleQueryStage 0
   :  +- Exchange hashpartitioning(k#1, 32)
   :     +- *(1) FileScan parquet [k#1]
   +- BroadcastQueryStage 1
      +- BroadcastExchange HashedRelationBroadcastMode
         +- Window [row_number()]
            +- ArrowEvalPython [f(v#3)]
               +- LocalTableScan [k#2, v#3]
+- == Initial Plan ==
   SortMergeJoin [k#1], [k#2], Inner
   :- Exchange hashpartitioning(k#1, 32)
"""
    c = plan_counts(plan)
    assert c == {"broadcast_joins": 1, "sort_merge_joins": 0, "exchanges": 2, "scans": 2,
                 "windows": 1, "python_nodes": 1}


# -- the stream's offered load ----------------------------------------------------------

def test_source_rates_follow_the_reference_defaults():
    from perfbench.workloads.stream import MAX_FPS, MEDIAN_FPS, SOURCES, offered_rate, source_rates

    rates = source_rates()
    assert len(rates) == SOURCES and rates.max() == MAX_FPS
    assert rates[SOURCES // 2 - 1] == MEDIAN_FPS
    assert round(offered_rate()) == 617


def test_no_source_publishes_faster_than_its_rate():
    import json as _json

    from perfbench.workloads.stream import EventSource

    src = EventSource(7)
    lines = [ln for k in range(20) for ln in src.window(k * 0.1, (k + 1) * 0.1, 1000.0 + k * 0.1)]
    per_source: dict[int, int] = {}
    for ln in lines:
        sid = _json.loads(_json.loads(ln)["value"])["source_id"]
        per_source[sid] = per_source.get(sid, 0) + 1
    assert len(lines) == len(src.events)
    # two seconds of schedule: at most 2 * rate + 1 frames per source
    assert all(n <= 2 / src.period[sid] + 1 for sid, n in per_source.items())
    assert abs(len(lines) - 2 * sum(1 / src.period)) <= 256


def test_the_benchmark_description_quotes_the_offered_rate():
    from perfbench.workloads.stream import offered_rate

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        why = {w["name"]: w["why"] for w in json.load(f)["workloads"]}["nvr_stream"]
    assert f"{offered_rate():.0f} events/s" in why


# -- BENCHMARK.json names the workloads run.py runs ----------------------------------------

def test_benchmark_description_names_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        desc = json.load(f)
    assert desc["command"] == ["python3", "perfbench/run.py"]
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in desc["workloads"]] == list(WORKLOADS)
