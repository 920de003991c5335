"""The benchmark's tracer wraps engine functions by module and attribute
name (``perfbench.tracing.LAYER_FUNCTIONS``); a rename in the engine
would silently drop a layer.  Every entry must resolve to a callable."""

from __future__ import annotations

import importlib

import pytest

from perfbench import tracing


@pytest.mark.parametrize(
    "module,attr", [(m, a) for m, a, _ in tracing.LAYER_FUNCTIONS],
    ids=[f"{m}.{a}" for m, a, _ in tracing.LAYER_FUNCTIONS],
)
def test_layer_function_resolves_to_a_callable(module, attr):
    assert callable(getattr(importlib.import_module(module), attr, None))
