import math

import pytest

from perfbench.measure import Span, SpanRecorder, self_times, tail_percentile


def test_tail_leaves_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100
    pct, v = tail_percentile(values)
    assert (pct, v) == (90.0, 90.0)
    assert sum(1 for x in values if x > v) == 10


def test_tail_with_few_samples_and_order_independence():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
    pct, v = tail_percentile(values)
    assert v == 2.0 and math.isclose(pct, 100 * 2 / 12)
    with pytest.raises(ValueError):
        tail_percentile(values[:10])


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("pass", 0.0, 10.0, None, "r"),
        Span("build", 1.0, 7.0, 0, "r"),
        Span("em", 2.0, 5.0, 1, "r"),
        Span("exec", 7.0, 9.5, 0, "r"),
    ]
    assert self_times(spans) == pytest.approx([1.5, 3.0, 3.0, 2.5])


def test_recorder_nests_spans_and_copies_context():
    rec = SpanRecorder("run")
    rec.context = {"pass": 3}
    inner = rec.wrap("inner", lambda x: x + 1, on_result=lambda out: {"out": out})
    with rec.span("outer"):
        assert inner(1) == 2
    outer, child = rec.spans
    assert child.parent == 0 and outer.parent is None
    assert child.attrs == {"pass": 3, "out": 2}
    assert outer.start <= child.start <= child.end <= outer.end
