"""Tests of the benchmark's own arithmetic and bookkeeping.

    python3 -m pytest perfbench -q

None of these start Spark.
"""

from __future__ import annotations

import json
import os
import pickle

import pytest

from perfbench import layers, run, stats, trace, workloads
from perfbench.ledger import parse_metric

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- tail percentile -----------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    value, pct, n = stats.tail([float(i) for i in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in range(1, 101) if x > value) == 10


def test_tail_at_twenty_samples_is_the_median_rank():
    value, pct, n = stats.tail([float(i) for i in range(20, 0, -1)])
    assert (value, pct, n) == (10.0, 50.0, 20)


@pytest.mark.parametrize("n", [1, 5, 10, 11, 19])
def test_tail_below_twenty_samples_is_the_maximum(n):
    xs = [float(i) for i in range(n)]
    assert stats.tail(xs) == (float(n - 1), 100.0, n)


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        stats.tail([])


# -- self time -----------------------------------------------------------


def test_self_time_subtracts_union_of_overlapping_children():
    # children overlap each other (1-4, 3-6) and spill past the span (8-12)
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)]) == 3.0


def test_self_time_ignores_children_outside_the_span():
    assert stats.self_time(5.0, 6.0, [(0.0, 1.0), (7.0, 9.0)]) == 1.0


def test_self_time_nested_children_count_once():
    assert stats.self_time(0.0, 10.0, [(2.0, 8.0), (3.0, 4.0), (5.0, 6.0)]) == 4.0


def test_tracer_records_parents():
    t = trace.Tracer()

    def inner():
        return 1

    def outer():
        return t.call("m.inner", "operators.x", inner, (), {}) + 1

    assert t.call("m.outer", "plans", outer, (), {}) == 2
    outer, inner = sorted(t.spans, key=lambda s: s.t0)
    assert (outer.name, outer.parent) == ("m.outer", None)
    assert (inner.name, inner.parent, inner.layer) == ("m.inner", outer.sid, "operators.x")
    assert stats.self_time(outer.t0, outer.t1, [(inner.t0, inner.t1)]) == pytest.approx(
        (outer.t1 - outer.t0) - (inner.t1 - inner.t0)
    )


def test_traced_function_pickles_by_reference(monkeypatch):
    original = stats.spread
    wrapped = trace.Traced(trace.Tracer(), "functions", original)
    assert wrapped([1.0, 2.0, 3.0]) == original([1.0, 2.0, 3.0])
    monkeypatch.setattr(stats, "spread", wrapped)
    data = pickle.dumps(wrapped)
    monkeypatch.undo()
    # a process without the wrapper installed gets the plain function
    assert pickle.loads(data) is original


def test_layer_names_follow_modules():
    p = "pulsar_internal_spark"
    assert trace.layer_of(p, f"{p}.plans.queries") == "plans"
    assert trace.layer_of(p, f"{p}.operators.dedup") == "operators.dedup"
    assert trace.layer_of(p, f"{p}.session") is None


# -- seeded inputs -------------------------------------------------------


def test_drop_assignment_is_deterministic_and_complete():
    ids = list(range(500))
    a = stats.assign_drops(7, ids, 6)
    assert a == stats.assign_drops(7, ids, 6)
    assert a != stats.assign_drops(8, ids, 6)
    assert sorted(x for drop in a for x in drop) == ids
    sizes = [len(d) for d in a]
    assert max(sizes) - min(sizes) <= 1


def test_pass_order_depends_on_seed_and_pass():
    names = workloads.RELATIONAL
    assert workloads.pass_order(names, 1, 0) == workloads.pass_order(names, 1, 0)
    assert sorted(workloads.pass_order(names, 1, 3)) == sorted(names)
    orders = {tuple(workloads.pass_order(names, s, p)) for s in (1, 2) for p in (0, 1)}
    assert len(orders) > 1


def test_pass_count_depends_on_seconds_only():
    for w in workloads.RUNNABLE:
        n = workloads.passes(w, 10)
        assert n >= workloads.MIN_PASSES
        assert n == workloads.passes(w, 10)
    assert workloads.passes("vectors_media", 1) == workloads.MIN_PASSES
    assert workloads.passes("vectors_media", 24) == 10


def test_alternate_balances_traced_and_untraced_passes():
    assert workloads.alternate(3) == [False, True, True]
    four = workloads.alternate(4)
    assert four == [False, True, True, False]
    # each side's mean position is the same when n is a multiple of 4
    eight = workloads.alternate(8)
    assert sum(i for i, t in enumerate(eight) if t) == sum(
        i for i, t in enumerate(eight) if not t
    )


def test_disabled_tracer_records_nothing():
    t = trace.Tracer()
    wrapped = trace.Traced(t, "functions", stats.spread)
    t.enabled = False
    assert wrapped([1.0, 2.0, 3.0]) == stats.spread([1.0, 2.0, 3.0])
    assert t.spans == []
    t.enabled = True
    wrapped([1.0, 2.0, 3.0])
    assert len(t.spans) == 1


# -- metric names --------------------------------------------------------


@pytest.mark.parametrize(
    "name", ["setup_s", "executor.run_s", "operators.dedup.jobs", "p-50", "9lives"]
)
def test_valid_metric_names(name):
    assert stats.valid_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "tail%"])
def test_invalid_metric_names(name):
    assert not stats.valid_name(name)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_name(n) for n in names)
    assert all(stats.valid_unit(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert [m["name"] for m in spec["end_to_end"]] == list(run.BOUNDED)
    units = layers.metric_units()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == units


# -- bound verdicts ------------------------------------------------------

BASE = [1.00, 1.01, 0.99, 1.00, 1.02, 0.98]


def test_verdict_better_when_new_wins_nearly_all_pairs():
    assert stats.verdict(BASE, [0.80, 0.81, 0.79, 0.80, 0.82, 0.78], 0.1, "lower") == "better"


def test_verdict_no_worse_inside_the_bound():
    assert stats.verdict(BASE, [1.03, 1.02, 1.04, 1.01, 1.03, 1.02], 0.1, "lower") == "no worse"


def test_verdict_worse_beyond_the_bound():
    assert stats.verdict(BASE, [1.20, 1.21, 1.19, 1.22, 1.20, 1.18], 0.1, "lower") == "worse"


def test_verdict_unresolved_when_spread_exceeds_bound():
    wide = [0.6, 1.4, 0.9, 1.3, 0.7, 1.1]
    assert stats.verdict(BASE, wide, 0.1, "lower") == "unresolved"


def test_verdict_respects_higher_is_better():
    assert stats.verdict(BASE, [1.20, 1.21, 1.19, 1.22, 1.20, 1.18], 0.1, "higher") == "better"
    assert stats.verdict(BASE, [0.80, 0.81, 0.79, 0.80, 0.82, 0.78], 0.1, "higher") == "worse"


def test_spread_is_iqr_over_median():
    assert stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


# -- SQL metric strings --------------------------------------------------


@pytest.mark.parametrize(
    "text,value",
    [
        ("1.4 s", 1.4),
        ("598 ms", 0.598),
        ("664.0 B", 664.0),
        ("1,024", 1024.0),
        ("total (min, med, max (stageId: taskId))\n3.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 1.0: task 2))", 3072.0),
        (None, 0.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)
