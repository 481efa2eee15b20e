"""The outside-in tracer without Spark: patching reaches names bound
by ``from … import`` and looked up at call time, spans nest with
parent ids, and self time never exceeds wall time."""

from __future__ import annotations

import sys
import time
import types

import pytest

from tracer import Tracer, _union


@pytest.fixture()
def engine():
    """Two fake engine modules: ``b`` binds ``a.inner`` at import time,
    ``a.outer`` reaches ``inner`` through its module globals."""
    a = types.ModuleType("tms_etl_spark_fake_a")
    b = types.ModuleType("tms_etl_spark_fake_b")

    def inner(x):
        time.sleep(0.01)
        return x + 1

    def outer(x):
        time.sleep(0.01)
        return a.inner(x) + a.inner(x)

    def via_b(x):
        return b.inner(x)

    a.inner, a.outer = inner, outer
    b.inner, b.via_b = inner, via_b
    sys.modules[a.__name__], sys.modules[b.__name__] = a, b
    yield a, b
    del sys.modules[a.__name__], sys.modules[b.__name__]


def test_patch_catches_nested_and_bound_names(engine):
    a, b = engine
    t = Tracer()
    t.patch("fake", a, ["inner", "outer"])
    t.enabled = True
    assert a.outer(1) == 4
    assert b.via_b(1) == 2  # b bound `inner` before the patch
    t.enabled = False
    t.finish()
    names = [s.name for s in t.spans]
    assert names.count("fake.inner") == 3 and names.count("fake.outer") == 1
    outer = next(s for s in t.spans if s.name == "fake.outer")
    kids = [s for s in t.spans if s.parent == outer.id]
    assert len(kids) == 2
    for s in t.spans:
        assert 0 <= s.self_s <= s.wall_s
    assert outer.self_s == pytest.approx(outer.wall_s - sum(k.wall_s for k in kids))
    t.unpatch()
    assert a.inner.__name__ == "inner" and not hasattr(a.inner, "__wrapped_by_tracer__")
    assert b.inner is a.inner


def test_disabled_tracer_records_nothing(engine):
    a, _ = engine
    t = Tracer()
    t.patch("fake", a, ["outer"])
    assert a.outer(1) == 4
    assert t.spans == []
    t.unpatch()


def test_totals_per_pass(engine):
    a, _ = engine
    t = Tracer()
    t.patch("fake", a, ["inner"])
    t.enabled = True
    for _ in range(4):
        a.inner(0)
    t.finish()
    tot = t.totals(n_passes=2)
    assert tot["fake.inner"]["calls"] == 2
    assert tot["fake.inner"]["jobs"] == 0
    assert tot["fake.inner"]["gap_s"] == pytest.approx(tot["fake.inner"]["wall_s"])
    t.unpatch()


def test_union_clips_and_merges():
    assert _union([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _union([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert _union([], 0, 1) == 0
