"""Self-time arithmetic, the tail-percentile rule, the counting wrapper and
the per-layer report against BENCHMARK.json."""

from __future__ import annotations

import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import (  # noqa: E402
    Span,
    Tracer,
    counting_returns,
    layer_of,
    self_times,
    tail_percentile,
    union_length,
)


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, None)


def test_self_time_without_children_is_duration():
    assert self_times([_span(0, 1.0, 4.0)]) == {0: 3.0}


def test_overlapping_children_count_once():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0), _span(2, 3.0, 6.0, 0),
             _span(3, 8.0, 9.0, 0)]
    st = self_times(spans)
    assert st[0] == 10.0 - (5.0 + 1.0)
    assert st[1] == 3.0 and st[2] == 3.0 and st[3] == 1.0


def test_nested_spans_subtract_direct_children_only():
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 8.0, 0), _span(2, 3.0, 5.0, 1)]
    st = self_times(spans)
    assert st == {0: 4.0, 1: 4.0, 2: 2.0}
    assert sum(st.values()) == 10.0  # self times tile the root


def test_children_are_clipped_to_the_parent():
    assert union_length([(-1.0, 2.0), (9.0, 12.0)], 0.0, 10.0) == 3.0
    assert union_length([], 0.0, 1.0) == 0.0


def test_tracer_records_parent_and_request():
    tr = Tracer()
    with tr.span("request.chart", request=5):
        with tr.span("plans.planner.execute") as c:
            c["files"] = 3
    inner, outer = tr.spans
    assert inner.parent == outer.id and inner.request == 5
    assert inner.counts == {"files": 3}
    st = self_times(tr.spans)
    assert abs(sum(st.values()) - outer.duration) < 1e-9


def test_layer_of_takes_longest_prefix():
    assert layer_of("plans.store.merge_into_store") == "plans.store"
    assert layer_of("operators.hourly_agg.run") == "operators"
    assert layer_of("request.chart") == "bench"
    assert layer_of("plansx.foo") == "bench"


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    pct, value, n = tail_percentile([float(x) for x in range(11)])
    assert (pct, value, n) == (100 / 11, 0.0, 11)
    samples = [float(x) for x in range(100)]
    pct, value, n = tail_percentile(samples)
    assert n == 100 and pct == 90.0 and value == 89.0
    assert sum(s > value for s in samples) == 10


def test_tail_is_order_insensitive():
    a = [5.0, 1.0, 3.0] * 7
    assert tail_percentile(a) == tail_percentile(sorted(a))


def test_counting_returns_counts_and_restores():
    mod = types.SimpleNamespace(listing=lambda n: list(range(n)))
    real = mod.listing
    with counting_returns(mod, "listing") as lens:
        assert mod.listing(3) == [0, 1, 2]
        mod.listing(5)
    assert lens == [3, 5]
    assert mod.listing is real


def test_layer_report_yields_every_per_layer_metric():
    import run

    bench, _ = run.load_spec()
    tr = Tracer()
    with tr.span("request.chart", request=1) as c:
        c["hit"] = 1
        with tr.span("plans.cache.get_or_compute"):
            pass
        with tr.span("operators.hourly_agg.run"):
            pass
    m = run.layer_report(tr.spans, {}, session_s=1.0)
    m["trace.unit_s"] = 1.0  # set by the runner from the timed phase
    assert set(m) == {x["name"] for x in bench["per_layer"]}
    assert m["plans.cache.hit_ratio"] == 1.0
    assert abs(m["trace.layers_self_unit_s"] + m["trace.glue_unit_s"] - tr.spans[-1].duration) < 1e-9


def test_every_workload_names_every_gated_metric():
    import run

    bench, spec = run.load_spec()
    assert [w["name"] for w in bench["workloads"]] == run.WORKLOADS
    gated = {m["name"] for m in bench["end_to_end"]} - {"setup_s", "peak_rss_mb"}
    for name in run.WORKLOADS:
        assert set(spec["named_metrics"][name]) == gated
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
