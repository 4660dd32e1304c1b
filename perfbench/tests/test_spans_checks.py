"""Span self times and the top-k comparison used by the output checks."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from checks import same_topk  # noqa: E402
from common import tail  # noqa: E402
from spans import Tracer  # noqa: E402


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(True)
    root = tr.record("root", 0.0, 10.0)
    tr.record("a", 1.0, 4.0, parent=root)
    tr.record("b", 3.0, 6.0, parent=root)  # overlaps a: union is 1..6
    tr.record("c", 8.0, 9.0, parent=root)
    selft = tr.self_times()
    assert selft[root] == 10.0 - 5.0 - 1.0
    assert tr.self_time_by_name(under="root") == {"root": 4.0, "a": 3.0, "b": 3.0, "c": 1.0}


def test_nested_spans_share_the_request_id():
    tr = Tracer(True)
    with tr.span("outer", rid=7):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["rid"] == 7


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == [] and tr.record("y", 0.0, 1.0) == -1


def test_same_topk_allows_swaps_only_inside_ties():
    want = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert same_topk([(1, 3.0), (3, 2.0), (2, 2.0 + 1e-12), (4, 1.0)], want)
    assert not same_topk([(2, 3.0), (1, 2.0), (3, 2.0), (4, 1.0)], want)
    assert not same_topk(want[:3], want)
    assert not same_topk([(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.1)], want)


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(1000)))[0] == 99.0
    assert tail(list(range(200)))[0] == 95.0
    assert tail(list(range(12)))[0] == 50.0
