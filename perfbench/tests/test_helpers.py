"""Tests for the benchmark's percentile, fingerprint and span self-time
helpers. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from helpers import fingerprint, median, percentile  # noqa: E402
from spans import Tracer, accounting, covered, layer_totals, merge, self_times, walls  # noqa: E402


@pytest.mark.parametrize(
    "values,q,expected",
    [
        ([3.0], 90, 3.0),
        ([1, 2, 3, 4], 50, 2.5),
        ([4, 1, 3, 2], 0, 1),
        ([4, 1, 3, 2], 100, 4),
        (list(range(11)), 90, 9.0),
        ([10, 20], 90, 19.0),
    ],
)
def test_percentile_interpolates_like_numpy(values, q, expected):
    assert percentile(values, q) == pytest.approx(expected)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_median_of_even_count_is_mean_of_middle_pair():
    assert median([5, 1, 9, 3]) == 4


def test_fingerprint_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = pd.DataFrame({"v": ["z", "x", "y"], "k": [3, 1, 2]})
    assert fingerprint(a) == fingerprint(b)


def test_fingerprint_sees_values_dtypes_and_names():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert fingerprint(a) != fingerprint(a.assign(v=[0.5, 1.25]))
    assert fingerprint(a) != fingerprint(a.rename(columns={"v": "w"}))
    assert fingerprint(a) != fingerprint(a.assign(k=[1.0, 2.0]))
    assert fingerprint(a) != fingerprint(a.iloc[:1])


def test_fingerprint_equates_what_the_gate_equates():
    # _canon casts every integer width to int64; -0.0 equals 0.0
    a = pd.DataFrame({"k": pd.Series([1, 2], dtype="int32"), "v": [0.0, 1.0]})
    b = pd.DataFrame({"k": pd.Series([2, 1], dtype="int64"), "v": [1.0, -0.0]})
    assert fingerprint(a) == fingerprint(b)


def test_fingerprint_of_empty_frame_depends_on_columns():
    assert fingerprint(pd.DataFrame({"a": []})) != fingerprint(pd.DataFrame({"b": []}))


def span(sid, parent, start, end, name="x"):
    return {"id": sid, "parent": parent, "start": start, "end": end, "name": name}


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 4), (6, 20)], 0, 10) == pytest.approx(3 + 4)
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        span(0, None, 0.0, 10.0, "key"),
        span(1, 0, 1.0, 4.0, "operators.build"),
        span(2, 1, 2.0, 3.0, "sources.load_table"),
        span(3, 0, 3.5, 9.0, "exec.write"),  # overlaps its sibling by 0.5
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - 8)
    assert own[1] == pytest.approx(3 - 1)
    assert own[2] == pytest.approx(1)
    assert own[3] == pytest.approx(5.5)


def test_self_times_of_a_tree_add_up_to_its_root_without_overlap():
    spans = [span(0, None, 0, 10), span(1, 0, 1, 4), span(2, 1, 2, 3), span(3, 0, 5, 9)]
    assert sum(self_times(spans).values()) == pytest.approx(10)


def test_tracing_spans_leave_every_layer_time():
    spans = [
        span(0, None, 0.0, 10.0, "key"),
        span(1, 0, 0.0, 6.0, "operators.build"),
        span(2, 1, 0.0, 1.0, "trace.window"),
        span(3, 1, 2.0, 4.0, "sources.load_table"),
        span(4, 3, 3.0, 3.5, "trace.window"),
        span(5, 0, 7.0, 8.0, "trace.catalyst"),
    ]
    own, inside = self_times(spans), walls(spans)
    assert own[1] == pytest.approx(6 - 1 - 2)
    assert inside[1] == pytest.approx(6 - 1 - 0.5)  # children in, tracing out
    assert inside[3] == pytest.approx(1.5)
    assert inside[0] == pytest.approx(10 - 1 - 0.5 - 1)


def test_accounting_leaves_root_residual_and_tracing_out_of_the_share():
    spans = [
        span(0, None, 0.0, 10.0, "key"),
        span(1, 0, 0.0, 4.0, "operators.build"),
        span(2, 0, 4.0, 5.0, "trace.window"),
        span(3, 0, 5.0, 10.0, "exec.write"),
    ]
    acc = accounting(spans, 10.0)
    assert acc["trace.self_time_share"] == pytest.approx(0.9)
    assert acc["trace.tracing_share"] == pytest.approx(0.1)
    assert acc["trace.residual_share"] == pytest.approx(0.0)


def test_an_unwrapped_gap_lowers_the_share():
    # the same key, with 3 s between the layers that no span covers
    spans = [
        span(0, None, 0.0, 10.0, "key"),
        span(1, 0, 0.0, 4.0, "operators.build"),
        span(3, 0, 7.0, 10.0, "exec.write"),
    ]
    acc = accounting(spans, 10.0)
    assert acc["trace.self_time_share"] == pytest.approx(0.7)
    assert acc["trace.residual_share"] == pytest.approx(0.3)
    # time outside every root span (process start, exit) is residual too
    assert accounting(spans, 20.0)["trace.residual_share"] == pytest.approx(1 - 7 / 20)


def test_layer_totals_and_merge_keep_processes_apart():
    a = [span(0, None, 0, 2, "task.store"), span(1, 0, 0.5, 1.5, "exec.write")]
    b = [span(0, None, 5, 6, "task.store")]
    totals = layer_totals(merge([a, b]))
    assert totals["task.store"]["calls"] == 2
    assert totals["task.store"]["self_s"] == pytest.approx(1 + 1)
    assert totals["exec.write"]["self_s"] == pytest.approx(1)


def test_spans_of_other_threads_hang_under_the_root():
    import threading

    tracer = Tracer("t")
    with tracer.span("cli.run") as root:
        tracer.root = root["id"]

        def work():
            with tracer.span("task.store"):
                pass

        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    store = next(s for s in tracer.spans if s["name"] == "task.store")
    assert store["parent"] == root["id"]


def test_tracer_nests_spans_and_wraps_functions():
    class Layer:
        def work(self, n):
            return n * 2

    tracer = Tracer("t")
    undo = tracer.wrap(Layer, "work", "layer.work")
    with tracer.span("outer"):
        assert Layer().work(21) == 42
    undo()
    assert Layer().work(1) == 2
    outer = next(s for s in tracer.spans if s["name"] == "outer")
    inner = next(s for s in tracer.spans if s["name"] == "layer.work")
    assert inner["parent"] == outer["id"] and inner["run"] == "t"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
