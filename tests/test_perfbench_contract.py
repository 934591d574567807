"""perfbench's `--trace 1` patches package names from outside
(`ask._instrument`, `curate._instrument`).  A refactor that renames or
removes one of them breaks the traced run only when it is next run;
this resolves every target without Spark."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


class _ResolveOnly:
    """A tracer whose wrap only looks the target up."""

    def __init__(self):
        self.targets = []

    def wrap(self, owner, attr, name, post=None):
        getattr(owner, attr)
        self.targets.append((owner, attr))


@pytest.fixture
def perfbench_modules(monkeypatch):
    # perfbench's modules import each other as top-level names (gen, cpu, stats)
    monkeypatch.syspath_prepend(PERFBENCH)
    names = ("ask", "curate", "gen", "cpu", "stats")
    saved = {n: sys.modules.pop(n) for n in names if n in sys.modules}
    try:
        yield importlib.import_module("ask"), importlib.import_module("curate")
    finally:
        for n in names:
            sys.modules.pop(n, None)
        sys.modules.update(saved)


def test_perfbench_instrument_targets_resolve(perfbench_modules):
    from semantic_query_engine_spark import api
    from semantic_query_engine_spark.operators import cache

    ask, curate = perfbench_modules
    tracer = _ResolveOnly()
    ask._instrument(api.SemanticQueryEngine(None), tracer, api, cache, {})
    curate._instrument(tracer, {})
    assert len(tracer.targets) == 19, tracer.targets
