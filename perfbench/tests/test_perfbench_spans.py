"""Percentile rule, span self-time arithmetic and the layer patcher."""

import contextlib
import sys
import types

import pytest

from spans import Tracer, layer_self_times, quantile, self_times, summarize, supported_tail, union_length


def test_quantile_is_a_smooth_order_statistic_average():
    assert quantile([5.0], 0.9) == 5.0
    assert quantile([3.0, 1.0, 2.0], 0.5) == pytest.approx(2.0, abs=1e-9)
    assert quantile([0.0, 10.0], 0.5) == pytest.approx(5.0, abs=1e-9)
    xs = [0.41, 0.42, 0.50, 0.56, 0.63, 0.67, 0.71, 0.95, 1.45]
    qs = [quantile(xs, q) for q in (0.1, 0.5, 0.9)]
    assert min(xs) < qs[0] < qs[1] < qs[2] < max(xs)
    # the sample median jumps by the gap to a neighbour when one panel
    # moves; the estimate moves by a fraction of it
    moved = list(xs)
    moved[4] = 0.55  # o5 becomes faster than j1
    assert abs(quantile(moved, 0.5) - quantile(xs, 0.5)) < 0.5 * abs(0.56 - 0.63)
    many = [float(i) for i in range(1001)]
    assert quantile(many, 0.5) == pytest.approx(500.0, abs=0.5)
    assert quantile(many, 0.9) == pytest.approx(900.0, abs=1.0)
    with pytest.raises(ValueError):
        quantile([], 0.5)


@pytest.mark.parametrize("n, q", [
    (5, None), (19, None), (20, 0.5), (39, 0.5), (40, 0.75), (100, 0.9),
    (199, 0.9), (200, 0.95), (1000, 0.99), (10_000, 0.999),
])
def test_supported_tail_needs_ten_samples_beyond(n, q):
    assert supported_tail(n) == q


def test_summarize_reports_count_median_and_tail():
    s = summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p50"] == pytest.approx(49.5, abs=0.1)
    assert s["tail_q"] == 0.9 and s["tail"] == pytest.approx(89.1, abs=0.5)
    assert summarize([1.0, 2.0])["tail"] is None


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (3, 4)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def _span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer, "name": str(i)}


def test_self_time_subtracts_children_once_and_clips():
    spans = [
        _span(0, None, 0.0, 10.0, "bench"),
        _span(1, 0, 1.0, 4.0, "plans"),
        _span(2, 0, 3.0, 6.0, "plans"),    # overlaps sibling 1: covered 1..6 once
        _span(3, 1, 2.0, 3.0, "sources"),  # grandchild: only its parent pays
        _span(4, 0, 9.0, 12.0, "exec"),    # runs past the parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)
    layers = layer_self_times(spans)
    assert layers == pytest.approx({"bench": 4.0, "plans": 5.0, "sources": 1.0, "exec": 3.0})
    assert sum(layers.values()) == pytest.approx(13.0)


def test_tracer_nests_spans_and_mutes():
    tr = Tracer(True)
    with tr.span("unit", "bench"):
        with tr.span("call", "plans", query="q1") as s:
            assert s["parent"] == 0 and s["query"] == "q1"
        with tr.muted(), tr.span("hidden", "plans") as s:
            assert s is None
    assert [s["name"] for s in tr.spans] == ["unit", "call"]
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_disabled_tracer_records_and_patches_nothing():
    tr = Tracer(False)
    mod = types.ModuleType("pbfake")
    mod.f = lambda: 1
    orig = mod.f
    with contextlib.ExitStack() as stack, tr.span("x", "y") as s:
        tr.patch(stack, "pbfake", mod, "f", "sources")
        assert s is None and mod.f is orig
    assert tr.spans == []


def test_patch_rebinds_every_importer_and_restores():
    src = types.ModuleType("pbfake")
    user = types.ModuleType("pbfake.user")
    src.load = lambda x: x + 1
    user.load = src.load  # ``from .src import load``
    orig = src.load
    sys.modules.update({"pbfake": src, "pbfake.user": user})
    try:
        tr = Tracer(True)
        with contextlib.ExitStack() as stack:
            tr.patch(stack, "pbfake", src, "load", "sources")
            assert user.load is not orig and user.load(1) == 2
        assert src.load is orig and user.load is orig
        assert [(s["name"], s["layer"]) for s in tr.spans] == [("load", "sources")]
    finally:
        del sys.modules["pbfake"], sys.modules["pbfake.user"]
