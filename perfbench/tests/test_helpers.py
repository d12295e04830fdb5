"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from spans import Ledger, Span, Tracer, covered, percentile, tail_percentile  # noqa: E402


@pytest.mark.parametrize(
    "n,expected",
    [
        (0, None),
        (19, None),
        (99, None),
        (100, 0.9),
        (999, 0.9),
        (1000, 0.99),
        (9999, 0.99),
        (10_000, 0.999),
    ],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_interpolates_and_median():
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert percentile(list(map(float, range(101))), 0.9) == pytest.approx(90.0)
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_failed_frac_counts_raised_and_mismatched():
    led = Ledger()
    led.record("a")
    led.record("b", error="ValueError: boom")
    led.record("c", ok=False)
    led.record("d")
    assert (led.attempted, led.raised, led.mismatched, led.failed) == (4, 1, 1, 2)
    assert led.failed_frac == 0.5
    assert Ledger().failed_frac == 0.0


def _tracer(*spans) -> Tracer:
    """Tracer holding (name, op_id, start, end, parent) spans in order."""
    tr = Tracer(enabled=True)
    for i, (name, op_id, start, end, parent) in enumerate(spans):
        tr.spans.append(Span(i, name, op_id, parent, start, end))
    return tr


def test_self_time_subtracts_children_union():
    tr = _tracer(
        ("op", 1, 0.0, 10.0, None),
        ("a", 1, 1.0, 4.0, 0),  # overlaps b
        ("b", 1, 3.0, 6.0, 0),
        ("c", 1, 8.0, 12.0, 0),  # runs past the parent: clipped
        ("a.child", 1, 1.5, 2.0, 1),
    )
    selfs = tr.self_times()
    assert selfs[0] == pytest.approx(10.0 - (5.0 + 2.0))
    assert selfs[1] == pytest.approx(3.0 - 0.5)
    assert selfs[2] == pytest.approx(3.0)


def test_covered_ignores_empty_and_disjoint_intervals():
    parent = Span(0, "p", 1, None, 0.0, 10.0)
    kids = [Span(1, "x", 1, 0, 2.0, 2.0), Span(2, "y", 1, 0, 11.0, 12.0)]
    assert covered(parent, kids) == 0.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op", 1) as s:
        assert s is None
    assert tr.spans == []


def test_enabled_tracer_nests_parents():
    tr = Tracer(enabled=True)
    with tr.span("op", 7):
        with tr.span("exec", 7):
            pass
    assert [(s.name, s.parent, s.op_id) for s in tr.spans] == [
        ("op", None, 7),
        ("exec", 0, 7),
    ]
    assert all(s.end >= s.start for s in tr.spans)


def _fake_traced_run():
    from types import SimpleNamespace

    tr = _tracer(
        ("op", 1, 0.0, 1.0, None),
        ("dialect.translate", 1, 0.0, 0.1, 0),
        ("exec.run", 1, 0.1, 0.4, 0),
        ("transfer.collect", 1, 0.4, 0.9, 0),
    )
    rec = {"op_id": 1, "name": "q", "kind": "query", "pass": 2, "traced": True,
           "latency": 1.0, "failed": False, "catalyst.plan_s": 0.05}
    return SimpleNamespace(
        tracer=tr, records=[rec], args=SimpleNamespace(workload="sql_tpch"),
        index_s=None, index_dir=None,
    )


def test_reported_metrics_match_benchmark_json():
    import json

    import run

    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    layers = run.layer_metrics(
        _fake_traced_run(), {"session_s": 5.0, "register_s": 1.0}, plain_ops_per_s=2.0
    )
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v["unit"] for k, v in layers.items()
    }


def test_layer_metrics_split_one_operation():
    import run

    out = run.layer_metrics(
        _fake_traced_run(), {"session_s": 5.0, "register_s": 1.0}, plain_ops_per_s=2.0
    )
    v = {k: m["value"] for k, m in out.items()}
    assert v["exec.run_s"] == pytest.approx(0.3)
    assert v["transfer.collect_s"] == pytest.approx(0.5 - 0.3)
    assert v["trace.residual_s"] == pytest.approx(0.1)
    assert v["share.front_frac"] == pytest.approx(0.1 + 0.05)
    assert v["trace.overhead_frac"] == pytest.approx(1.0)
