"""juniper_syslog_filter_spark — a from-scratch PySpark-native rebuild of the
query/data-processing capabilities of Sohey-k/juniper-syslog-filter.

Reference (read-only, /root/reference): a single-threaded pandas ETL over
staged CSV directories (run.py:69-417). This package re-expresses the same
semantics — extract → filter → classify → route → aggregate — as ONE lazy
Spark plan over Iceberg/parquet tables of Common-Crawl-style web pages,
designed for 1000-executor / 100 TB scale:

* parse: Catalyst regex expressions, Unicode-exact to Python ``re``
  (byte-identical extraction vs the reference's ``pandas.str.extract``)
* enrich: broadcast lookup joins (severity class, device metadata)
* route: a REBALANCE on (Severity, lang) + partitioned fan-out writes
* aggregate: hash groupBy with partial (map-side) aggregation
* ops: AQE, bucketed table writes, a salted skew join (sj1),
  checkpoint/lineage table
"""

__version__ = "0.1.0"

SEVERITY_NAMES = [
    "EMERGENCY",
    "ALERT",
    "CRITICAL",
    "ERROR",
    "WARNING",
    "NOTICE",
    "INFO",
    "DEBUG",
]

# RFC-5424 severity name -> numeric level (reference:
# scripts/genarate_logs.py:69-78).
SEVERITIES = {name: level for level, name in enumerate(SEVERITY_NAMES)}

# Derived severity class bands used by the broadcast enrich dimension.
SEVERITY_CLASS = {
    "EMERGENCY": "critical-band",
    "ALERT": "critical-band",
    "CRITICAL": "critical-band",
    "ERROR": "error-band",
    "WARNING": "warn-band",
    "NOTICE": "info-band",
    "INFO": "info-band",
    "DEBUG": "info-band",
}
