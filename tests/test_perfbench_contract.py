"""The benchmark's tracer patches pipeline names from outside the program
(perfbench/tracing.py).  Entering it wraps every one of them, so renaming
one away fails here, in the fast gate, instead of in the benchmark."""

from __future__ import annotations

from perfbench.tracing import Tracer


def test_tracer_wraps_and_restores_pipeline_names(spark):
    with Tracer(spark, "contract") as tracer:
        patched = list(tracer._patched)
        assert patched
        for cls, attr, orig in patched:
            assert getattr(cls, attr) is not orig
    for cls, attr, orig in patched:
        assert getattr(cls, attr) is orig
    assert tracer.spans == []
