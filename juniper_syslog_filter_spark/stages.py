"""Per-module standalone stages — the rebuild's counterpart to every
reference module's own ``main()`` (each module is runnable alone on a
stage directory, e.g. modules/extract_routing.py:131-167).

Each stage is ONE named transform over a CSV stage directory — read
with the ''-for-missing convention, apply, write the next stage dir —
driven by ``python -m juniper_syslog_filter_spark stage <name> ...``.
Inside the real pipeline these same expressions fuse into one Catalyst
plan (pipeline.py); the standalone form exists for API parity and ad-hoc
debugging, exactly like the reference's per-module mains.

Column-order contract (SURVEY §1.3): every deriving stage inserts its
new column(s) at the reference's documented position (routing before
Message, srcIP/dstIP after routing, *_type after each IP, protocol /
SeverityLevel / Severity before Message) through
``operators.project.insert_columns``, the one placement rule the parse
and the m* queries use too — Catalyst doesn't care, downstream CSV
consumers do.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import parse as P
from .functions.ip import classify_ips
from .operators.filters import filter_keyword, filter_severity
from .operators.project import insert_columns, reduce_columns


def stage_filter_keyword(df: DataFrame, keyword: str = "RT_IDP_ATTACK") -> DataFrame:
    """P1 (modules/filter_keyword.py:21-94)."""
    return filter_keyword(df, keyword)


def stage_filter_severity(df: DataFrame, severity: str = "CRITICAL") -> DataFrame:
    """P2 (modules/filter_critical.py:30-129)."""
    return filter_severity(df, severity)


def stage_reduce_columns(df: DataFrame, keep: str = "0,1,2,6") -> DataFrame:
    """P4 (modules/reduce_columns.py:22-107), positional keep-list."""
    return reduce_columns(df, [int(x) for x in keep.split(",")])


def stage_extract_routing(df: DataFrame) -> DataFrame:
    """F1 (modules/extract_routing.py:24-128): routing before Message."""
    return insert_columns(df, {"routing": P.extract_routing_expr(F.col("Message"))})


def stage_split_ip(df: DataFrame) -> DataFrame:
    """F2 (modules/split_ip.py:27-132): srcIP,dstIP after routing."""
    src, dst = P.split_ip_exprs(F.col("routing"))
    return insert_columns(df, {"srcIP": src, "dstIP": dst}, after="routing")


def stage_classify_ip(df: DataFrame) -> DataFrame:
    """F6/F7 (modules/classify_ip.py:104-206): srcIP_type after srcIP,
    dstIP_type after dstIP."""
    return classify_ips(df)


def stage_extract_protocol(df: DataFrame) -> DataFrame:
    """F3 (modules/extract_protocol.py:28-126)."""
    return insert_columns(df, {"protocol": P.extract_protocol_expr(F.col("Message"))})


def stage_extract_severity_level(df: DataFrame) -> DataFrame:
    """F4 (modules/extract_severity_level.py:28-126; kept as string)."""
    return insert_columns(df, {"SeverityLevel": P.extract_severity_level_expr(F.col("Message"))})


def stage_extract_severity(df: DataFrame) -> DataFrame:
    """F5 (modules/extract_severity.py:28-126)."""
    return insert_columns(df, {"Severity": P.extract_severity_expr(F.col("Message"))})


def stage_merge(df: DataFrame) -> DataFrame:
    """U1 (modules/merge_files.py:22-122): UNION ALL is implicit in the
    multi-file read; the ≤800k re-chunk happens at the CSV sink
    (maxRecordsPerFile, sinks.write_stage_csv)."""
    return df


STAGES: dict[str, Callable[..., DataFrame]] = {
    "filter-keyword": stage_filter_keyword,
    "filter-severity": stage_filter_severity,
    "reduce-columns": stage_reduce_columns,
    "extract-routing": stage_extract_routing,
    "split-ip": stage_split_ip,
    "classify-ip": stage_classify_ip,
    "extract-protocol": stage_extract_protocol,
    "extract-severity-level": stage_extract_severity_level,
    "extract-severity": stage_extract_severity,
    "merge": stage_merge,
}
