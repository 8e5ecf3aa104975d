"""Span bookkeeping of the traced run: self time and job-group hand-back.
Needs no Spark.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def test_self_time_subtracts_children():
    t = spans.Tracer()
    t.op = "op0"
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    outer.start, outer.end = 0.0, 10.0
    inner.start, inner.end = 2.0, 5.0
    assert t.self_time(0) == 7.0
    assert t.self_time(1) == 3.0


def test_job_group_returns_to_enclosing_span():
    seen = []
    t = spans.Tracer(on_group=seen.append)
    t.op = "op0"
    with t.span("call", group=True):
        with t.span("nested", group=True):
            pass
        with t.span("plain"):
            pass
    assert seen == ["op0/call/0", "op0/nested/1", "op0/call/0", None]
    assert t.groups["op0"] == ["op0/call/0", "op0/nested/1"]


def test_patched_function_pickles_as_the_original():
    mod = types.ModuleType("perfbench_fake_mod")

    def f(x):
        return x + 1

    mod.f = f
    t = spans.Tracer()
    wrapped = spans._Traced(t, "fake.f", f, mod, "f", False)
    assert wrapped(1) == 2 and t.spans == []  # inactive: no span
    t.active, t.op = True, "op0"
    assert wrapped(2) == 3 and [s.name for s in t.spans] == ["fake.f"]
    # pickles as a lookup of the attribute, never as the tracer
    assert wrapped.__reduce__() == (getattr, (mod, "f"))
