"""Query registry.

Every operator the engine claims (SURVEY.md §2) registers here as a named
plan builder ``(spark, sf_dir) -> DataFrame`` plus, when SQL-expressible, an
ANSI-SQL oracle string the DuckDB differential harness runs on the same
parquet fixtures. Column names/aliases MUST match between the two — the
driver's comparator sorts columns by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable
from itertools import zip_longest

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

#: the two smoke queries; they lead ``queries()``
SMOKE_ANCHORS = ("flagship_regional_revenue", "events_session_window")


def _ordered(names: dict[str, object]) -> list[str]:
    """Catalog order: the smoke anchors, then the oracle-backed queries
    round-robin across their defining plan modules (each module in
    registration order), then the rest in registration order.

    A check that samples the first 50 entries of ``queries()`` thus sees
    every operator family, not just the first modules imported.
    """
    by_module: dict[str, list[str]] = {}
    for n, fn in _QUERIES.items():
        if n in _ORACLES and n not in SMOKE_ANCHORS:
            by_module.setdefault(fn.__module__, []).append(n)
    spread = [n for rnd in zip_longest(*by_module.values()) for n in rnd if n]
    head = [n for n in (*SMOKE_ANCHORS, *spread) if n in names]
    seen = set(head)
    return head + [n for n in names if n not in seen]


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named plan; ``oracle`` is the equivalent DuckDB SQL.

    ``oracle=None`` marks a genuinely non-SQL-expressible operator (approx
    sketches, LSH, stateful streaming); the driver then records a weaker
    rows-only check.
    """

    def register(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle.strip()
        return fn

    return register


def all_queries() -> dict[str, QueryFn]:
    return {n: _QUERIES[n] for n in _ordered(_QUERIES)}


def all_oracles() -> dict[str, str]:
    return {n: _ORACLES[n] for n in _ordered(_ORACLES)}
