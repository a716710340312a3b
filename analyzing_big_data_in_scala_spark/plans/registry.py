"""Query registry: the single source of truth consumed by __spark_entry__.py.

Each query is a named (spark, sf_dir) -> DataFrame callable plus (when the
semantics are SQL-expressible) a DuckDB oracle SQL string over the same
tables. Column names are shared between both sides — the driver's comparator
sorts columns by name before hashing, so every computed column is aliased
identically in the Spark plan and the SQL text (SURVEY.md §5.1).

Intermediates that several queries build identically (the graph edge list,
the IVF-PQ geometry, ...) are declared once with `@shared(name, uses=())`:
a builder `(spark, sf_dir, **inputs) -> value`. A query that consumes them
declares `@query(..., uses=(...))` on a finalize
`(spark, sf_dir, **inputs) -> DataFrame`, and the registry composes the
driver's `fn(spark, sf_dir)` from the two, building every input it needs
once per call. bench.py builds each shared input once for all of its
consumers and times the finalize alone.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class SharedSpec:
    name: str
    build: Callable[..., Any]  # (spark, sf_dir, **inputs) -> value
    uses: tuple[str, ...] = ()


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> driver runs rows-only check
    description: str
    # Scale the oracle's constants were pinned at (e.g. "sf0.01"), or None
    # when the oracle is scale-generic SQL. Pinned oracles are only valid
    # at exactly that sf — the local self-check and the pytest parity sweep
    # skip them elsewhere (a pinned-constants table compared at any other
    # scale is a guaranteed false red). The driver runs at sf0.01, which is
    # why every pin in the repo is an sf0.01 pin.
    pinned_sf: str | None = None
    # Shared inputs the query consumes, and its finalize
    # (spark, sf_dir, **inputs) -> DataFrame; `fn` builds the inputs and
    # calls it. Both empty for a self-contained query.
    uses: tuple[str, ...] = ()
    finalize: Callable[..., DataFrame] | None = None


QUERIES: dict[str, QuerySpec] = {}
SHARED: dict[str, SharedSpec] = {}


def shared(name: str, uses: Iterable[str] = ()) -> Callable:
    """Register a shared-input builder. Used as a decorator in the plans
    modules, next to the queries that consume the input."""

    def deco(fn):
        if name in SHARED:
            raise ValueError(f"duplicate shared input: {name}")
        SHARED[name] = SharedSpec(name=name, build=fn, uses=tuple(uses))
        return fn

    return deco


def shared_order(names: Iterable[str]) -> list[str]:
    """`names` and every shared input they use transitively, each listed
    after its own inputs. Raises on an unknown name or a cycle."""
    order: list[str] = []

    def visit(name: str, path: tuple[str, ...]) -> None:
        if name in path:
            raise ValueError(f"shared-input cycle: {' -> '.join((*path, name))}")
        if name in order:
            return
        if name not in SHARED:
            raise KeyError(f"unknown shared input: {name}")
        for dep in SHARED[name].uses:
            visit(dep, (*path, name))
        order.append(name)

    for name in names:
        visit(name, ())
    return order


def query(
    name: str,
    oracle: str | None = None,
    description: str = "",
    pinned_sf: str | None = None,
    uses: Iterable[str] = (),
) -> Callable:
    """Register a query. Used as a decorator in the plans modules.

    With `uses=`, the decorated function is the finalize over those shared
    inputs; the registered `fn` (also what the decorator returns) keeps
    the driver's (spark, sf_dir) signature."""
    uses = tuple(uses)

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        if uses:

            @functools.wraps(fn)
            def driver_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
                built: dict[str, Any] = {}
                for dep in shared_order(uses):
                    spec = SHARED[dep]
                    built[dep] = spec.build(spark, sf_dir, **{u: built[u] for u in spec.uses})
                return fn(spark, sf_dir, **{u: built[u] for u in uses})

        else:
            driver_fn = fn
        QUERIES[name] = QuerySpec(
            name=name,
            fn=driver_fn,
            oracle=oracle,
            description=description or (fn.__doc__ or "").strip(),
            pinned_sf=pinned_sf,
            uses=uses,
            finalize=fn if uses else None,
        )
        return driver_fn

    return deco


def query_map() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}
