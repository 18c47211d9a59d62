"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship parse→classify→filter chain; ``queries`` /
``oracle_sql`` expose every implemented operator family (SURVEY.md §2)
with DuckDB oracle twins: copies of the ``@query`` registry in
``juniper_syslog_filter_spark.driver_queries``, whose family modules
under ``juniper_syslog_filter_spark/queries/`` declare each query
beside its oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from juniper_syslog_filter_spark.driver_queries import ORACLE_SQL, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference pipeline (keyword filter → parse →
    classify → severity route) expressed relationally over sf0.001."""
    return QUERIES["m2_critical_routed"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)
