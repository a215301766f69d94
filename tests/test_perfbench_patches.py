"""The traced benchmark run swaps package attributes for wrapped versions
(``perfbench/tracer.py``'s ``PATCHES``); every one must still resolve, or
``perfbench/run.py --trace 1`` fails to install. No Spark session needed."""

from __future__ import annotations

import importlib
import importlib.util
from pathlib import Path

TRACER = Path(__file__).resolve().parents[1] / "perfbench" / "tracer.py"


def _load_tracer():
    spec = importlib.util.spec_from_file_location("perfbench_tracer", TRACER)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_every_traced_attribute_resolves():
    tracer = _load_tracer()
    assert tracer.PATCHES
    for mod_name, attr, layer in tracer.PATCHES:
        owner = importlib.import_module(mod_name)
        for part in attr.split("."):
            assert hasattr(owner, part), f"{mod_name}.{attr} no longer resolves"
            owner = getattr(owner, part)
        assert callable(owner), f"{mod_name}.{attr}"
        assert layer in tracer.LAYERS, (attr, layer)

