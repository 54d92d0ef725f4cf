"""Named DataFrame plans: the delegated SQL surface of the reference
(SURVEY.md §2b) expressed as idiomatic Spark DataFrame programs.

This package is the one query registry.  A plan module adds a query by
calling ``register(fn, oracle_sql)`` (``register(fn)`` for a rows-only
entry) after the function and its DuckDB oracle are defined; the entry
is keyed by ``fn.__name__`` and a name registered twice raises.  The
registry order is the modules' import order below, then each module's
call order, so a plan module imports no sibling plan module."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def register(
    fn: Callable[[SparkSession, str], DataFrame], oracle: str | None = None
) -> None:
    name = fn.__name__
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    QUERIES[name] = fn
    if oracle is not None:
        ORACLE[name] = oracle


from . import (  # noqa: E402
    tpch,
    tpch2,
    temporal,
    quality,
    curation,
    dq,
    search,
    scale,
    llmdata,
    events,
    relational,
    advanced,
)
