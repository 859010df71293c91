"""The benchmark tracer patches layer functions by name: every target it
lists must resolve, or a refactor silently drops spans from a traced
run."""

import importlib
from pathlib import Path

SPANS = Path(__file__).resolve().parents[1] / "perfbench" / "spans.py"


def _targets():
    # Compiled from source, not imported: loads nothing else from the
    # benchmark directory and leaves no bytecode cache behind in it.
    ns: dict = {"__name__": "perfbench_spans"}
    exec(compile(SPANS.read_text(), str(SPANS), "exec"), ns)
    return ns["FUNCTION_TARGETS"], ns["METHOD_TARGETS"]


def test_every_trace_target_resolves():
    functions, methods = _targets()
    assert functions and methods
    for mod_name, attr, _layer in functions:
        mod = importlib.import_module(mod_name)
        assert callable(vars(mod).get(attr)), f"{mod_name}.{attr}"
    for mod_name, cls_name, attr, _layer in methods:
        cls = vars(importlib.import_module(mod_name)).get(cls_name)
        assert cls is not None, f"{mod_name}.{cls_name}"
        assert callable(vars(cls).get(attr)), f"{mod_name}.{cls_name}.{attr}"
