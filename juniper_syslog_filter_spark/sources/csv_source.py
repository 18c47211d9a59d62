"""Stage-CSV source with the reference's read conventions.

Every reference module re-reads its stage directory with
``pd.read_csv(..., keep_default_na=False)`` so missing values are ``""``
(modules/split_ip.py:70 et al.). The Spark twin: columns from the file
header, all-string schema (no ``inferSchema``), nulls coalesced to
empty strings, and Spark's default PERMISSIVE mode for per-row error
isolation (the reference isolates per-FILE; per-row is strictly
better).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_stage_csv(spark: SparkSession, path: str) -> DataFrame:
    """Header CSV → all-string DataFrame with ``""`` for missing. The
    columns come from the file header, as the reference modules trust
    the header and validate presence of the ones they need."""
    df = spark.read.option("header", True).csv(path)
    # CSV null → '' (the reference's na convention, SURVEY §1.2).
    return df.select(
        *[F.coalesce(F.col(f"`{c}`"), F.lit("")).alias(c) for c in df.columns]
    )
