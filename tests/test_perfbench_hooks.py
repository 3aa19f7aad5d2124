"""Every layer hook of the benchmark's tracer names a live engine function.

``perfbench/tracing.py`` wraps engine functions by (module, attribute)
name for a traced run, and that run raises ``AttributeError`` on a hook
whose function an engine change renamed or removed. This test reads the
hook table from the file; it changes nothing under ``perfbench/``.
"""

from __future__ import annotations

import importlib
import importlib.util
import sys
from pathlib import Path

import pytest

_TRACING = Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"


def _hooks():
    name = "_perfbench_tracing"
    spec = importlib.util.spec_from_file_location(name, _TRACING)
    module = importlib.util.module_from_spec(spec)
    # its dataclasses look their module up in sys.modules while they build
    sys.modules[name] = module
    try:
        spec.loader.exec_module(module)
    finally:
        sys.modules.pop(name, None)
    return module.HOOKS


HOOKS = _hooks()


def test_hook_table_is_not_empty():
    assert HOOKS


@pytest.mark.parametrize("hook", HOOKS,
                         ids=[f"{h.module}.{h.attr}" for h in HOOKS])
def test_hook_resolves_to_a_callable(hook):
    fn = getattr(importlib.import_module(hook.module), hook.attr, None)
    assert callable(fn), f"{hook.module}.{hook.attr} is gone"
