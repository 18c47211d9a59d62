"""Driver-contract query registry: every operator family (SURVEY.md §2)
as a query over the driver-provided tables at ``sf_dir``, each declared
once in a ``queries/`` family module beside its DuckDB oracle.

``@query(oracle=...)`` registers ``q_<name>`` under ``<name>`` in
:data:`QUERIES` and its oracle SQL in :data:`ORACLE_SQL`;
``oracle=None`` marks a rows-only query.

Engine-parity rules every oracle observes:

* every computed column is aliased identically in Spark and SQL;
* float aggregates are rounded (the driver hashes values);
* regex patterns use only ``\\d \\s \\w`` — identical semantics across
  Java regex (Spark) and RE2 (DuckDB);
* dot products fold left-to-right in both engines as doubles → the
  sums are bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def query(*, oracle: str | None) -> Callable[[QueryFn], QueryFn]:
    """Register ``q_<name>`` as query ``<name>`` with its DuckDB oracle
    (``None``: no oracle, the contract checks rows only)."""

    def register(fn: QueryFn) -> QueryFn:
        name = fn.__name__.removeprefix("q_")
        if name in QUERIES:
            raise ValueError(f"query {name!r} registered twice")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return register


# Importing the family modules registers their queries.
from .queries import (  # noqa: E402, F401
    messages, relational, windows, text, dedup, similarity, sources, web,
    training, sketch, streaming,
)
