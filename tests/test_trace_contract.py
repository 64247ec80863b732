"""The benchmark's traced run wraps engine functions by name
(``perfbench/spans.py``). Installing its tracer here makes a rename of
any wrapped function fail the test suite, not only the traced benchmark."""

import importlib.util
import os

SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "spans.py"
)


def test_tracer_wraps_every_engine_name(spark):
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)

    tracer = spans.Tracer(spark.sparkContext)
    try:
        tracer.install()
        patched = list(tracer._patches)
        assert patched
    finally:
        tracer.uninstall()
    for owner, attr, orig in patched:
        assert getattr(owner, attr) is orig
