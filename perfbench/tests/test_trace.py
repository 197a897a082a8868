"""Self time is a span minus the part of it its children cover."""

from __future__ import annotations

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(__file__))))

from perfbench.trace import (  # noqa: E402
    Span,
    Tracer,
    self_times,
    top_level_seconds,
    totals_by_name,
)


def test_self_time_subtracts_children():
    spans = [
        Span("batch", 0.0, 10.0, None),
        Span("cascade", 1.0, 4.0, 0),
        Span("write", 2.0, 3.0, 1),
        Span("index", 5.0, 6.5, 0),
    ]
    assert self_times(spans) == pytest.approx([5.5, 2.0, 1.0, 1.5])


def test_overlapping_children_counted_once():
    spans = [
        Span("parent", 0.0, 10.0, None),
        Span("a", 1.0, 5.0, 0),
        Span("b", 3.0, 7.0, 0),  # overlaps a (another thread)
    ]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_fold_adds_up_to_parent():
    spans = [
        Span("cascade", 0.0, 3.0, None),
        Span("write", 0.5, 2.0, 0),
        Span("health", 3.0, 3.5, None),
        Span("cascade", 20.0, 21.0, None),  # next trigger, outside window
    ]
    totals = totals_by_name(spans, (0.0, 10.0))
    assert totals["cascade"] == pytest.approx((3.0, 1.5, 1))
    assert totals["write"] == pytest.approx((1.5, 1.5, 1))
    assert top_level_seconds(spans, (0.0, 10.0)) == pytest.approx(3.5)
    add_batch = 4.0
    service_self = add_batch - top_level_seconds(spans, (0.0, 10.0))
    layers = totals["cascade"][0] + totals["health"][0]
    assert layers + service_self == pytest.approx(add_batch)


def test_wrap_records_nesting_and_unwraps():
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2  # looks inner up at call time
    tracer = Tracer()
    tracer.wrap(mod, "inner", "inner")
    tracer.wrap(mod, "outer", "outer")
    assert mod.outer(1) == 4
    names = [(s.name, s.parent) for s in tracer.spans]
    assert names == [("outer", None), ("inner", 0)]
    tracer.unwrap_all()
    assert mod.outer(1) == 4
    assert len(tracer.spans) == 2


def test_wrap_closes_span_on_error():
    mod = types.SimpleNamespace()

    def boom():
        raise ValueError("x")

    mod.boom = boom
    tracer = Tracer()
    tracer.wrap(mod, "boom", "boom")
    with pytest.raises(ValueError):
        mod.boom()
    assert tracer.spans[0].end >= tracer.spans[0].start
