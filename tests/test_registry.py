"""The ``@query`` registry: every query is registered once, each oracle
belongs to a registered query, and the contract entry point exposes
exactly the registry. A mistyped oracle key would otherwise make its
query rows-only in scripts/check_contract.py without any failure.
Imports only, no Spark."""

from __future__ import annotations

import __spark_entry__ as entry
from juniper_syslog_filter_spark.driver_queries import ORACLE_SQL, QUERIES


def test_every_query_but_st1_has_an_oracle():
    assert len(QUERIES) == 124
    assert len(ORACLE_SQL) == 123
    assert set(QUERIES) - set(ORACLE_SQL) == {"st1_sessionize_stream"}
    assert set(ORACLE_SQL) <= set(QUERIES)


def test_entry_point_exposes_the_registry():
    assert entry.queries() == QUERIES
    assert entry.oracle_sql() == ORACLE_SQL
