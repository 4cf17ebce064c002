"""The benchmark's traced runs (``perfbench/run.py --trace 1``) wrap package
functions by module and attribute name (``perfbench/spans.py:LAYER_CALLS``).
A deleted or renamed function would break every traced run, so each entry
must still resolve."""

from __future__ import annotations

import importlib
import importlib.util
from pathlib import Path

import pytest

SPANS_PATH = Path(__file__).resolve().parent.parent / "perfbench" / "spans.py"


def _layer_calls():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS_PATH)
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)
    return spans.LAYER_CALLS


@pytest.mark.parametrize(
    "module,attr", [(m, a) for m, a, _ in _layer_calls()], ids=lambda v: v
)
def test_traced_entry_point_resolves(module, attr):
    assert callable(getattr(importlib.import_module(module), attr))
