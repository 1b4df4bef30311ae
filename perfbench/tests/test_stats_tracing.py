"""Self-tests for the percentile rule, span self time and tracer
robustness. No Spark session is needed."""

import sys
import textwrap

import pytest

from stats import beyond, median, percentile, tail_ok
from tracing import Tracer, Wrappers, self_times


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 0.5) == 50
    assert percentile(xs, 0.9) == 90
    assert percentile(xs, 1.0) == 100
    assert percentile([7.0], 0.9) == 7.0
    assert percentile([3, 1, 2], 0.5) == 2  # order of input does not matter
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


def test_tail_rule_needs_ten_samples_beyond():
    assert beyond(100, 0.9) == 10
    assert tail_ok(100, 0.9)
    assert not tail_ok(99, 0.9)
    assert not tail_ok(14, 0.9)
    assert tail_ok(20, 0.5)


def _span(name, start, end, parent):
    return {"name": name, "start": start, "end": end, "parent": parent, "qid": None}


def test_self_time_subtracts_children_once():
    spans = [
        _span("query", 0.0, 10.0, None),
        _span("query.construct", 1.0, 4.0, 0),
        _span("registry.pin", 2.0, 3.0, 1),
        _span("query.exec", 5.0, 9.0, 0),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 1.0, 4.0])
    assert sum(self_times(spans)) == pytest.approx(10.0)


def test_self_time_merges_overlapping_and_clips_children():
    spans = [
        _span("a", 0.0, 10.0, None),
        _span("b", 1.0, 5.0, 0),
        _span("c", 4.0, 6.0, 0),  # overlaps b: 1..6 covered once
        _span("d", 9.0, 12.0, 0),  # runs past its parent: clipped to 9..10
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_tracer_nests_spans():
    clock = iter(range(100)).__next__
    t = Tracer(clock=clock)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert all(s["end"] > s["start"] for s in t.spans)


@pytest.fixture
def fake_pkg(tmp_path, monkeypatch):
    """A stand-in package with one pin entry point and no staging
    function."""
    root = tmp_path / "fakepkg"
    (root / "streaming").mkdir(parents=True)
    (root / "__init__.py").write_text("")
    (root / "streaming" / "__init__.py").write_text("")
    (root / "streaming" / "staging.py").write_text("def other():\n    pass\n")
    (root / "entities.py").write_text("def load_entities(s, d):\n    return {}\n")
    (root / "registry.py").write_text(textwrap.dedent("""
        from .entities import load_entities
        _MEMO = {}

        def eager_cache_thunk(e, tag, thunk):
            if tag not in _MEMO:
                _MEMO[tag] = thunk()
            return _MEMO[tag]

        def build_twice():
            a = eager_cache_thunk({}, "x", lambda: object())
            b = eager_cache_thunk({}, "x", lambda: object())
            load_entities(None, None)
            return a is b
    """))
    monkeypatch.syspath_prepend(str(tmp_path))
    yield "fakepkg"
    for name in [m for m in sys.modules if m.startswith("fakepkg")]:
        del sys.modules[name]


def test_missing_wrap_point_is_absent_with_reason(fake_pkg):
    import importlib

    t = Tracer()
    w = Wrappers(t, pkg=fake_pkg)
    w.install()
    # staged_dir is gone: its metric is absent, with the reason, not zero
    assert "streaming.stage_s" in w.absent
    assert "staged_dir" in w.absent["streaming.stage_s"]
    # one pin entry point remains, so pin metrics are still measured
    assert not any(k.startswith("registry.pin") for k in w.absent)
    reg = importlib.import_module(f"{fake_pkg}.registry")
    assert reg.build_twice()
    pins = [s for s in t.spans if s["name"] == "registry.pin"]
    assert [s["built"] for s in pins] == [True, False]
    # the re-exported load_entities inside registry is wrapped too
    assert [s["name"] for s in t.spans].count("entities.load") == 1


def test_no_pin_entry_point_marks_pin_metrics_absent(fake_pkg, tmp_path):
    (tmp_path / fake_pkg / "registry.py").write_text("X = 1\n")
    w = Wrappers(Tracer(), pkg=fake_pkg)
    w.install()
    for k in ("registry.pin_builds", "registry.pin_hits", "registry.pin_build_s"):
        assert "no pin entry point" in w.absent[k]
