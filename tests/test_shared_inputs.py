"""Shared-input declarations and the bench's import boundary.

An intermediate that several queries build identically is declared once
with `@shared(name, uses=...)`, and each consumer declares
`@query(..., uses=...)` on a finalize over it (plans/registry.py). bench.py
builds every shared input once and times the consumers' finalize; it reads
the formulas only through the registry. These tests pin both halves: the
declarations form a resolvable, acyclic graph with no builder left
unconsumed, and bench.py imports nothing from `operators/`, so no build
formula can be copied back into the harness.
"""

from __future__ import annotations

import ast
import os

import pytest

from analyzing_big_data_in_scala_spark.plans import registry
from analyzing_big_data_in_scala_spark.plans.registry import QUERIES, SHARED, shared_order
import analyzing_big_data_in_scala_spark.plans  # noqa: F401

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
OPERATORS = "analyzing_big_data_in_scala_spark.operators"


def test_shared_input_graph_resolves_is_acyclic_and_consumed():
    for name, spec in QUERIES.items():
        assert set(spec.uses) <= set(SHARED), (name, spec.uses)
        assert (spec.finalize is not None) == bool(spec.uses), name
    for name, spec in SHARED.items():
        assert set(spec.uses) <= set(SHARED), (name, spec.uses)
    # shared_order raises on a cycle; every input lands after its own.
    order = shared_order(SHARED)
    assert sorted(order) == sorted(SHARED)
    for name, spec in SHARED.items():
        assert all(order.index(u) < order.index(name) for u in spec.uses), name
    consumed = {u for spec in QUERIES.values() for u in spec.uses}
    assert consumed == set(SHARED), set(SHARED) - consumed


def test_shared_order_rejects_cycles(monkeypatch):
    monkeypatch.setitem(SHARED, "_a", registry.SharedSpec("_a", lambda s, d, _b: 0, ("_b",)))
    monkeypatch.setitem(SHARED, "_b", registry.SharedSpec("_b", lambda s, d, _a: 0, ("_a",)))
    with pytest.raises(ValueError, match="cycle"):
        shared_order(["_a"])


def _imports(path: str) -> list[tuple[int, str]]:
    out: list[tuple[int, str]] = []
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            out.extend((node.lineno, a.name) for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            out.append((node.lineno, node.module))
            out.extend((node.lineno, f"{node.module}.{a.name}") for a in node.names)
    return out


def test_bench_imports_nothing_from_operators():
    sites = [
        (line, mod)
        for line, mod in _imports(BENCH)
        if mod == OPERATORS or mod.startswith(OPERATORS + ".")
    ]
    assert not sites, (
        "bench.py imports from operators/ — declare the intermediate as a "
        f"registry shared input instead: {sorted(set(sites))}"
    )
