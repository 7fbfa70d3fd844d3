"""The invoice-run benchmark's traced mode wraps named package functions
(``perfbench/spans.py:WRAPPED``). A rename or removal would silently
drop that layer from the per-layer metrics, so every hook point must
still resolve to a callable."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spans_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", os.path.join(ROOT, "perfbench", "spans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    # its dataclasses resolve annotations through sys.modules
    sys.modules[spec.name] = mod
    try:
        spec.loader.exec_module(mod)
    finally:
        del sys.modules[spec.name]
    return mod


def test_benchmark_hook_points_resolve():
    spans = _spans_module()
    assert spans.WRAPPED
    missing = []
    for mod_name, attr, span_name in spans.WRAPPED:
        mod = importlib.import_module(f"{spans.PKG}.{mod_name}")
        if not callable(getattr(mod, attr, None)):
            missing.append((mod_name, attr, span_name))
    assert not missing, f"benchmark hook points no longer in the package: {missing}"
