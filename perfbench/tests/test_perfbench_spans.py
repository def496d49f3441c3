import types

import pytest

import spans


def _span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "op": "q", "start": start, "end": end}


def test_self_time_subtracts_nested_children():
    tree = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "build", 0, 1.0, 4.0),
        _span(2, "session.load_table", 1, 2.0, 3.0),
        _span(3, "exec", 0, 5.0, 9.0),
    ]
    assert spans.self_times(tree) == {
        "op": pytest.approx(3.0),
        "build": pytest.approx(2.0),
        "session.load_table": pytest.approx(1.0),
        "exec": pytest.approx(4.0),
    }


def test_layer_self_time_groups_spans_by_layer():
    tree = [
        _span(0, "q", None, 0.0, 10.0),
        _span(1, "build", 0, 0.0, 4.0),
        _span(2, "session.load_table", 1, 1.0, 2.0),
        _span(3, "session.configure", 1, 2.0, 3.0),
        _span(4, "exec", 0, 4.0, 9.0),
    ]
    assert spans.layer_self_times(tree) == {
        "bench": pytest.approx(1.0), "queries": pytest.approx(2.0),
        "session": pytest.approx(2.0), "exec": pytest.approx(5.0),
    }


def test_self_time_counts_overlapping_children_once():
    tree = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 5.0),
        _span(2, "b", 0, 3.0, 7.0),
    ]
    assert spans.self_times(tree)["op"] == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    tree = [_span(0, "op", None, 0.0, 10.0), _span(1, "late", 0, 8.0, 12.0)]
    assert spans.self_times(tree)["op"] == pytest.approx(8.0)


def test_self_time_sums_spans_of_one_name():
    tree = [_span(0, "op", None, 0.0, 1.0), _span(1, "op", None, 2.0, 4.0)]
    assert spans.self_times(tree) == {"op": pytest.approx(3.0)}


def _module():
    mod = types.ModuleType("fake_engine")

    def leaf(x):
        return x + 1

    def outer(x):
        return mod.leaf(x) * 2  # internal call through the module global

    def recurse(n):
        return 0 if n == 0 else 1 + mod.recurse(n - 1)

    mod.leaf, mod.outer, mod.recurse = leaf, outer, recurse
    return mod


def test_wrap_records_nested_spans_counts_and_restores():
    mod = _module()
    original = mod.leaf
    t = spans.Tracer()
    t.wrap(mod, "leaf", "leaf")
    t.wrap(mod, "outer", "outer")
    t.op = "q1"
    with t.span("q1") as root:
        assert mod.outer(1) == 4
    by_name = {s["name"]: s for s in t.spans}
    assert by_name["outer"]["parent"] == root["id"]
    assert by_name["leaf"]["parent"] == by_name["outer"]["id"]
    assert all(s["op"] == "q1" for s in t.spans)
    assert t.counts == {"outer_calls": 1, "leaf_calls": 1}
    t.unwrap_all()
    assert mod.leaf is original


def test_wrap_names_spans_from_the_arguments():
    mod = _module()
    t = spans.Tracer()
    t.wrap(mod, "leaf", lambda x: "even" if x % 2 == 0 else "odd")
    mod.leaf(1), mod.leaf(2), mod.leaf(3)
    assert t.counts == {"odd_calls": 2, "even_calls": 1}


def test_wrap_closes_the_span_when_the_call_raises():
    mod = _module()
    t = spans.Tracer()
    t.wrap(mod, "leaf", "leaf")
    with pytest.raises(TypeError):
        mod.leaf("x")
    assert t.spans[0]["end"] is not None and not t._stack


def test_total_counts_a_span_nested_in_its_own_name_once():
    mod = _module()
    t = spans.Tracer()
    t.wrap(mod, "recurse", "recurse")
    assert mod.recurse(3) == 3
    outer = t.spans[0]
    assert t.counts["recurse_calls"] == 4
    assert t.total("recurse") == pytest.approx(outer["end"] - outer["start"])
    assert t.total("recurse", lo=1) < t.total("recurse")
