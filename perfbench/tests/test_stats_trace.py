"""Tail-percentile rule and span self time (no Spark needed)."""

from __future__ import annotations

import json
import os
import threading

import pytest

from perfbench.stats import tail
from perfbench.trace import ROUND, Span, Tracer, _unit, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    v, pct, n = tail(values)
    assert (v, pct, n) == (90, 90.0, 100)
    assert sum(x > v for x in values) == 10
    v, pct, n = tail(list(range(11)))
    assert (v, pct, n) == (0, 100.0 / 11, 11)


def test_tail_below_eleven_samples_is_the_minimum_at_percentile_zero():
    assert tail([5.0, 3.0, 4.0]) == (3.0, 0.0, 3)
    with pytest.raises(ValueError):
        tail([])


def test_tail_ignores_input_order():
    xs = [float(x) for x in range(40)]
    assert tail(xs) == tail(list(reversed(xs))) == (29.0, 75.0, 40)


def _span(i, parent, start, end, name="x"):
    return Span(i, name, parent, 0, start, end)


def test_self_time_subtracts_nested_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),  # grandchild: counts against 2, not 1
        _span(4, 1, 6.0, 7.0),
    ]
    st = self_times(spans)
    assert st == {1: pytest.approx(6.0), 2: pytest.approx(2.0), 3: pytest.approx(1.0), 4: pytest.approx(1.0)}


def test_self_time_takes_the_union_of_concurrent_children():
    # four shard children overlapping on a pool: 2..6, 3..7, 3..5, 8..9
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 2.0, 6.0),
        _span(3, 1, 3.0, 7.0),
        _span(4, 1, 3.0, 5.0),
        _span(5, 1, 8.0, 9.0),
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 5.0 - 1.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(1, None, 0.0, 4.0), _span(2, 1, 3.0, 6.0)]
    assert self_times(spans)[1] == pytest.approx(3.0)


def test_tracer_attaches_pool_threads_to_submitter_or_round():
    tr = Tracer()
    with tr.round():
        with tr.span("outer") as outer:
            parent = tr.current()

            def adopted():
                with tr.adopt(parent):
                    with tr.span("shard"):
                        pass

            def orphan():
                with tr.span("loose"):
                    pass

            threads = [threading.Thread(target=f) for f in (adopted, adopted, orphan)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=10)
            assert not any(t.is_alive() for t in threads)
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    root = by_name[ROUND][0]
    assert [s.parent for s in by_name["shard"]] == [outer.id, outer.id]
    assert by_name["loose"][0].parent == root.id
    assert outer.parent == root.id
    assert tr.rounds == 1 and all(s.round == 0 for s in tr.spans)


def test_per_layer_units_match_the_benchmark_definition():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = json.load(f)["per_layer"]
    wrong = {m["name"]: (_unit(m["name"]), m["unit"]) for m in per_layer if _unit(m["name"]) != m["unit"]}
    assert not wrong
