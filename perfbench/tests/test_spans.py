import types

import pytest

from spans import Span, Tracer, durations, self_times


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(1, "root", 0.0, 10.0, None, 1),
        Span(2, "a", 1.0, 4.0, 1, 1),
        Span(3, "a.inner", 2.0, 3.5, 2, 1),
        Span(4, "b", 5.0, 9.0, 1, 1),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[3] == pytest.approx(1.5)
    assert st[4] == pytest.approx(4.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_nested_calls_record_parent_and_request():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    with t.span("second"):
        pass
    by = {s.name: s for s in t.spans}
    assert by["inner"].parent == by["outer"].id
    assert by["inner"].request == by["outer"].request == by["outer"].id
    assert by["second"].parent is None and by["second"].request == by["second"].id
    assert durations(t.spans, "inner")[0] <= durations(t.spans, "outer")[0]


class _Base:
    def fit(self):
        return "base"


class _Model(_Base):
    def predict(self, x):
        return x + 1

    @classmethod
    def load(cls, path):
        return (cls, path)


def test_patch_and_uninstall_restore_every_kind():
    mod = types.SimpleNamespace(fn=lambda x: x * 2)
    orig_fn, orig_predict = mod.fn, _Model.__dict__["predict"]
    t = Tracer()
    t.patch(mod, "fn", "m.fn")
    t.patch(_Model, "predict", "m.predict")
    t.patch(_Model, "load", "m.load")
    t.patch(_Model, "fit", "m.fit")  # inherited: shadowed on the subclass
    assert mod.fn(2) == 4
    assert _Model().predict(1) == 2
    assert _Model.load("p") == (_Model, "p")
    assert _Model().fit() == "base"
    assert sorted(s.name for s in t.spans) == ["m.fit", "m.fn", "m.load", "m.predict"]
    t.uninstall()
    assert mod.fn is orig_fn
    assert _Model.__dict__["predict"] is orig_predict
    assert isinstance(_Model.__dict__["load"], classmethod)
    assert "fit" not in _Model.__dict__
