"""Span self-time arithmetic and SQL-metric parsing."""

from __future__ import annotations

import pytest

from perfbench.trace import layer_self_times, parse_sql_metric, self_times


def span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "query": "q"}


def test_self_time_subtracts_children():
    spans = [
        span(0, "query", 0.0, 10.0),
        span(1, "registry.build", 0.0, 6.0, 0),
        span(2, "catalog.load", 1.0, 2.0, 1),
        span(3, "catalog.load", 3.0, 4.5, 1),
        span(4, "materialize", 6.0, 9.5, 0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(0.5)
    assert st[1] == pytest.approx(3.5)
    assert st[2] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.5)
    # self times of a tree add up to its root span
    assert sum(st.values()) == pytest.approx(10.0)
    layers = layer_self_times(spans)
    assert layers["catalog.load"] == pytest.approx(2.5)
    assert layers["registry.build"] == pytest.approx(3.5)


def test_overlapping_children_are_counted_once():
    spans = [
        span(0, "p", 0.0, 10.0),
        span(1, "a", 1.0, 5.0, 0),
        span(2, "b", 4.0, 7.0, 0),
    ]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_child_outside_parent_is_clipped():
    spans = [span(0, "p", 0.0, 2.0), span(1, "c", 1.0, 3.0, 0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


@pytest.mark.parametrize(
    ("text", "value"),
    [
        ("1.6 s", 1.6),
        ("983 ms", 0.983),
        ("147.9 KiB", 147.9 * 1024),
        ("500", 500.0),
        ("1,234", 1234.0),
        ("total (min, med, max (stageId: taskId))\n19.3 s (590 ms, 729 ms, 2.8 s (stage 1.0: task 2))", 19.3),
        ("total (min, med, max (stageId: taskId))\n84.4 KiB (2.8 KiB, 5.1 KiB, 8.4 KiB (stage 1.0: task 12))", 84.4 * 1024),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)
