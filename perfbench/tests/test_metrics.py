"""Metric math and span accounting of the benchmark (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
from tracer import Span, Tracer  # noqa: E402


def test_percentile_interpolates_between_ranks():
    xs = [float(i) for i in range(1, 11)]  # 1..10
    assert metrics.percentile(xs, 0.5) == pytest.approx(5.5)
    assert metrics.percentile(xs, 0.0) == 1.0
    assert metrics.percentile(xs, 1.0) == 10.0
    assert metrics.percentile(list(reversed(xs)), 0.9) == pytest.approx(9.1)


def test_p90_needs_ten_samples_beyond_it():
    # p90 of n samples sits at sorted position 0.9 * (n - 1)
    assert metrics.samples_beyond(100, 0.9) == 10
    assert metrics.samples_beyond(92, 0.9) == 10  # position 81.9: ranks 82..91 above
    assert metrics.samples_beyond(91, 0.9) == 9  # position 81.0: ranks 82..90 above
    assert metrics.min_samples_for(0.9) == 92
    metrics.tail_percentile([1.0] * 92, 0.9)
    with pytest.raises(ValueError, match="9 beyond it; need 10"):
        metrics.tail_percentile([1.0] * 91, 0.9)


def test_min_samples_leaves_exactly_the_rule_beyond():
    for q in (0.5, 0.75, 0.9, 0.95):
        n = metrics.min_samples_for(q)
        assert metrics.samples_beyond(n, q) >= metrics.MIN_BEYOND
        assert metrics.samples_beyond(n - 1, q) < metrics.MIN_BEYOND
        xs = list(range(n))
        beyond = [x for x in xs if x > metrics.percentile(xs, q)]
        assert len(beyond) == metrics.samples_beyond(n, q)


def test_error_rate_counts_failures_against_attempts():
    assert metrics.error_rate(0, 66) == 0.0
    assert metrics.error_rate(3, 60) == pytest.approx(0.05)
    with pytest.raises(ValueError):
        metrics.error_rate(1, 0)
    with pytest.raises(ValueError):
        metrics.error_rate(5, 4)


def test_ops_per_s_uses_the_window_wall_time():
    assert metrics.ops_per_s(44, 16.0) == pytest.approx(2.75)
    with pytest.raises(ValueError):
        metrics.ops_per_s(1, 0.0)


def _spans(*rows) -> list[Span]:
    return [Span(i, parent, 0, layer, layer, start, end) for i, (parent, layer, start, end) in enumerate(rows)]


def test_self_time_subtracts_covered_child_time():
    spans = _spans(
        (None, "op", 0.0, 10.0),
        (0, "queries", 1.0, 3.0),
        (0, "exec", 3.0, 9.0),
        (2, "session", 4.0, 5.0),
    )
    got = Tracer(enabled=True).self_times(spans)
    assert got == pytest.approx({"op": 2.0, "queries": 2.0, "exec": 5.0, "session": 1.0})
    assert sum(got.values()) == pytest.approx(10.0)


def test_overlapping_children_are_counted_once():
    spans = _spans((None, "op", 0.0, 10.0), (0, "exec", 1.0, 6.0), (0, "exec", 4.0, 8.0))
    assert Tracer(enabled=True).self_times(spans)["op"] == pytest.approx(3.0)


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.op(0, "op", "q"):
        with tracer.span("exec", "run") as s:
            assert s is None
    assert tracer.spans == [] and tracer.overhead_s == 0.0


def test_spans_nest_and_share_the_op_id():
    tracer = Tracer(enabled=True)
    with tracer.op(7, "op", "q"):
        with tracer.span("queries", "build"):
            pass
    root, child = tracer.spans
    assert child.parent == root.id and child.op == root.op == 7
    assert tracer.overhead_s > 0.0
