"""Query registry.

Each implemented operator from SURVEY.md §2 registers here with:
- a Spark callable ``(spark, sf_dir) -> DataFrame``
- an equivalent DuckDB oracle SQL string (or None for non-SQL-expressible
  ops, which get the driver's weaker rows-only check)
- tags (operator family) and an optional ``headline`` flag (bench.py runs
  headline queries at sf0.1).

Determinism/parity rules every registered query follows:
- every computed column is aliased identically in Spark and SQL;
- floating-point aggregates are rounded identically on both sides
  (ROUND(x, 2..4)) so summation-order ULP noise can't flip the driver's
  value hash;
- counts are BIGINT on both sides (DuckDB SUM(int) yields HUGEINT --
  always CAST);
- any top-k / dedup winner is made deterministic with an explicit
  tie-break key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QueryDef"] = {}

# The driver contract: the correctness driver checks exactly the first 50
# entries of queries(), in registry (dict) order, and plans.DRIVER_WINDOW
# sets them through set_driver_order. MAX_REGISTERED is the hard ceiling
# on registered queries; register() refuses one more.
MAX_REGISTERED = 100


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    headline: bool = False
    doc: str = ""
    # Lazy stand-ins for queries that eagerly materialize their bounded
    # result (the deterministic cache-release contract turns the
    # returned frame into a LocalTableScan, hiding the real pipeline
    # from plan inspection). Each probe rebuilds a heavy internal stage
    # UN-materialized so the plan-hygiene gate (test_plans) can still
    # see it; probes are never run, only planned.
    plan_probes: tuple[QueryFn, ...] = field(default_factory=tuple)


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    headline: bool = False,
    plan_probes: tuple[QueryFn, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        if len(_REGISTRY) >= MAX_REGISTERED:
            raise ValueError(
                f"registry is at the {MAX_REGISTERED}-query ceiling; "
                f"registering {name!r} requires deleting or merging an "
                "existing query first"
            )
        _REGISTRY[name] = QueryDef(
            name=name,
            fn=fn,
            oracle=oracle,
            tags=tuple(tags),
            headline=headline,
            doc=(fn.__doc__ or "").strip(),
            plan_probes=tuple(plan_probes),
        )
        return fn

    return deco


def set_driver_order(priority: list[str]) -> None:
    """Reorder the registry so ``priority`` names come first, in that order.

    The correctness driver checks exactly the first 50 registry entries by
    registration (dict) order, so the dict order IS the driver-facing
    contract. Names in ``priority`` are moved to the front; every remaining
    query keeps its original relative order after them. Unknown names raise
    so the curated list can't silently drift from the registry.
    """
    unknown = [n for n in priority if n not in _REGISTRY]
    if unknown:
        raise ValueError(f"set_driver_order: unknown queries {unknown!r}")
    seen = set(priority)
    tail = [n for n in _REGISTRY if n not in seen]
    reordered = {n: _REGISTRY[n] for n in list(priority) + tail}
    _REGISTRY.clear()
    _REGISTRY.update(reordered)


def all_queries() -> dict[str, QueryDef]:
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: qd.fn for name, qd in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in _REGISTRY.items() if qd.oracle}


def headline_queries() -> dict[str, QueryDef]:
    return {name: qd for name, qd in _REGISTRY.items() if qd.headline}
