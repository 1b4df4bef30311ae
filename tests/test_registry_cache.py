"""Regression guards for the operator-pin LRU (registry.eager_cache).

Round 8 found that when the catalog's per-pass working set (~40 distinct
cache tags) crossed the LRU cap, the cyclic access pattern hit LRU's
worst case — EVERY access missed, the pinned streaming drains re-ran on
every warm pass, and the warm bench inflated 2.4x with zero plan
changes. Two guards so the class of bug stays dead:

1. unit tests of the pin mechanics themselves (hit moves to end and skips
   the build, eviction pops the coldest, unpersists it and drops the
   prepared plans that embed it), and
2. a static working-set audit: the number of eager_cache call sites in
   the package (each contributes one live tag per (session, sf)) must fit
   inside the cap with room for TWO scale factors' working sets — the
   multi-SF certification loop the cap is sized for.
"""

from __future__ import annotations

import ast
import os

import pytest

from hadoop_hdfs_spark import registry

PKG_ROOT = os.path.join(os.path.dirname(__file__), "..", "hadoop_hdfs_spark")


class _FakeContext:
    applicationId = "app-test"


class _FakeSession:
    sparkContext = _FakeContext()


class _FakeSessionClass:
    @staticmethod
    def getActiveSession():
        return _FakeSession()


class _FakeFrame:
    """Duck-typed stand-in for a DataFrame as eager_cache uses one."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.checkpoints = 0
        self.unpersisted = False

    def localCheckpoint(self, eager: bool = True) -> "_FakeFrame":
        self.checkpoints += 1
        return self

    def unpersist(self) -> "_FakeFrame":
        self.unpersisted = True
        return self


@pytest.fixture
def small_cache(monkeypatch):
    # the pin key reads the active session's applicationId — no JVM here
    monkeypatch.setattr(registry, "SparkSession", _FakeSessionClass)
    monkeypatch.setattr(registry, "_CACHED", {})
    monkeypatch.setattr(registry, "_QUERY_PLANS", {})
    monkeypatch.setattr(registry, "_CACHED_MAX", 3)
    return registry._CACHED


def _pin(e, tag, name=None):
    return registry.eager_cache(e, tag, lambda: _FakeFrame(name or tag))


def test_hit_returns_pinned_frame_and_marks_recent(small_cache):
    e = {"__sf_dir__": "sfA"}
    calls = []

    def build():
        calls.append(1)
        return _FakeFrame("a")

    a = registry.eager_cache(e, "a", build)
    assert a.checkpoints == 1
    _pin(e, "b")
    # A hit returns the pinned frame without calling build, and moves the
    # entry to the recent end.
    assert registry.eager_cache(e, "a", build) is a
    assert calls == [1]
    assert list(k[2] for k in small_cache) == ["b", "a"]


def _seed_plans():
    for sf, q in (("sfA", "q1"), ("sfA", "q2"), ("sfB", "q1")):
        registry._QUERY_PLANS[("app-test", sf, q)] = object()


def test_eviction_pops_coldest_and_unpersists(small_cache):
    e = {"__sf_dir__": "sfA"}
    frames = {t: _pin(e, t) for t in "abc"}
    # Touch "a" so "b" becomes the coldest entry.
    _pin(e, "a", "a-new")
    _seed_plans()
    _pin(e, "d")  # evicts exactly one
    keys = {k[2] for k in small_cache}
    assert keys == {"a", "c", "d"}
    assert frames["b"].unpersisted
    assert not frames["a"].unpersisted and not frames["c"].unpersisted
    # The unpersisted checkpoint pin cannot recompute, so every prepared
    # plan of its (session, sf) is dropped — one embedding the dead pin
    # would otherwise be served — and other SFs' plans stay.
    assert set(registry._QUERY_PLANS) == {("app-test", "sfB", "q1")}


def test_cyclic_working_set_at_capacity_stays_hit(small_cache):
    # The r8 failure mode: a cyclic pass over cap+1 tags misses on every
    # access. At <= cap tags the same cycle must hit every time after the
    # first pass — this is the property the cap sizing exists to protect.
    e = {"__sf_dir__": "sfA"}
    first = [_pin(e, t) for t in "abc"]
    for _ in range(3):  # three warm passes
        for i, t in enumerate("abc"):
            assert _pin(e, t, t + "x") is first[i]


def test_evict_unpersists_pin_and_drops_plans_for_that_sf(small_cache):
    e = {"__sf_dir__": "sfA"}
    a, b = _pin(e, "a"), _pin(e, "b")
    _seed_plans()
    registry.evict(_FakeSession(), "sfA", "a")
    assert a.unpersisted and not b.unpersisted
    assert {k[2] for k in small_cache} == {"b"}
    assert set(registry._QUERY_PLANS) == {("app-test", "sfB", "q1")}
    # no tag: plans only, pins untouched
    registry._QUERY_PLANS[("app-test", "sfA", "q3")] = object()
    registry.evict(_FakeSession(), "sfA")
    assert set(registry._QUERY_PLANS) == {("app-test", "sfB", "q1")}
    assert not b.unpersisted and len(small_cache) == 1


def test_build_that_pins_its_own_tag_gets_the_stash(small_cache):
    """ivftrain's loop pins its sibling tags — including the caller's own —
    from inside the build: the caller must get that stashed pin back, not
    a second materialization of the build's return value."""
    e = {"__sf_dir__": "sfA"}
    inner = {}

    def build():
        inner["pinned"] = _pin(e, "sib")
        inner["raw"] = _FakeFrame("raw")
        return inner["raw"]

    out = registry.eager_cache(e, "sib", build)
    assert out is inner["pinned"]
    assert len(small_cache) == 1
    assert out.checkpoints == 1 and inner["raw"].checkpoints == 0


def _eager_cache_calls() -> list[ast.Call]:
    calls = []
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            with open(os.path.join(dirpath, fname)) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Call):
                    fn = node.func
                    name = getattr(fn, "attr", getattr(fn, "id", ""))
                    if name == "eager_cache":
                        calls.append(node)
    return calls


def test_cap_holds_two_scale_factors_of_static_working_set():
    sites = len(_eager_cache_calls())
    assert sites > 0, "AST audit found no call sites — audit broken"
    # Each call site pins at most one tag per (session, sf); the cap is
    # sized for two SFs' worth (the multi-SF certification loop). If this
    # fires, a new operator pushed the working set past the safe margin:
    # raise registry._CACHED_MAX (and the sizing comment) rather than
    # letting the warm path silently degrade into full-miss thrash.
    assert 2 * sites <= registry._CACHED_MAX, (
        f"{sites} eager_cache call sites x2 SFs exceeds _CACHED_MAX="
        f"{registry._CACHED_MAX}; bump the cap (see registry.py sizing "
        "note) before the LRU starts thrashing on full catalog passes"
    )


def test_bench_drain_memo_tags_are_pinned_tags():
    """bench.py's redrain leg evicts each gate by its exact pin tag; a tag
    that no eager_cache call pins would silently evict nothing and time a
    memo read as a drain."""
    with open(os.path.join(PKG_ROOT, "..", "bench.py")) as f:
        bench = ast.parse(f.read())
    gates = next(
        ast.literal_eval(node.value)
        for node in bench.body
        if isinstance(node, ast.Assign)
        and getattr(node.targets[0], "id", "") == "_DRAIN_MEMO_GATES"
    )
    literal_tags = {
        c.args[1].value
        for c in _eager_cache_calls()
        if isinstance(c.args[1], ast.Constant)
    }
    assert gates and not set(gates.values()) - literal_tags


def test_corpus_budget_guard(small_cache, monkeypatch, tmp_path):
    """A corpus-scale frame (``source=``) pins while the SOURCE parquet is
    at or under the byte budget and passes through as the raw
    (recomputable) derivation past it. The build must not run on a pin
    hit; past the budget it must run every call (no hidden memo)."""
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"x" * 1024)  # 1 KiB stand-in source
    e = {"__sf_dir__": str(tmp_path)}
    calls = []

    def build():
        calls.append(1)
        return _FakeFrame("corpus")

    def pin(tag):
        return registry.eager_cache(e, tag, build, source="documents")

    # over budget: raw derivation returned, build runs per call, no pin
    monkeypatch.setenv("SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES", "10")
    a, b = pin("tag_over"), pin("tag_over")
    assert len(calls) == 2 and a is not b
    assert not any(k[2] == "tag_over" for k in small_cache)

    # at/under budget: pinned once, memo served after
    monkeypatch.setenv("SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES", "4096")
    calls.clear()
    c, d = pin("tag_under"), pin("tag_under")
    assert len(calls) == 1 and c is d

    # malformed budget: named error, not a bare ValueError
    monkeypatch.setenv("SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES", "huge")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CORPUS_PIN_BUDGET"):
        pin("tag_bad")
