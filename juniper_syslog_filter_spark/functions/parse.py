"""Grok-style parse stage: html bytes → structured syslog record.

Re-expresses reference Phases 1-5 and 7-9 (run.py:75-331) as ONE
Arrow-vectorized ``mapInPandas`` pass — no intermediate materialization
(the reference writes + re-reads the whole dataset 11 times,
SURVEY.md §4.2).

Byte-identity invariant (BASELINE.json input_hint): extraction uses
pandas ``.str.extract`` / ``.str.contains`` — the exact same Python
``re`` engine the reference uses — with the reference's verbatim
patterns:

* routing   ``(\\d+\\.\\d+\\.\\d+\\.\\d+)/\\d+\\s*>\\s*(\\d+\\.\\d+\\.\\d+\\.\\d+)/\\d+``
  (modules/extract_routing.py:27)
* protocol  ``protocol=(\\w+)``            (modules/extract_protocol.py:31)
* sev-level ``SeverityLevel=(\\d+)``       (modules/extract_severity_level.py:31)
* severity  ``Severity=(\\w+)``            (modules/extract_severity.py:31)
* keyword   case-sensitive substring, NaN→drop (modules/filter_keyword.py:62-68)

Missing values are the empty string, never null (modules/split_ip.py:70
et al.). Column order follows the reference stage contracts (FIXTURES §3).

Scale notes: the keyword filter is pushed *before* the regex UDF as a
cheap binary ``contains`` on raw html bytes (sound: Message is a
substring of html, so no false negatives — the exact Message-level
filter inside the UDF settles false positives). This is the Sparser-style
raw-filter trick; at 100 TB it skips decode+regex for ~99% of pages when
selectivity is low, preserving the reference's key property that runtime
tracks post-filter volume (README.md:137).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Reference patterns, verbatim.
LOG_BLOCK_PATTERN = r'<pre class="log">(\S+) (\S+) (\S+) ([^<]*)</pre>'
# Every extractable record starts at this literal ASCII marker; used for the
# JVM-side recordless-page drop and byte-narrowing (see parse_pages).
LOG_BLOCK_MARKER = '<pre class="log">'
ROUTING_PATTERN = r"(\d+\.\d+\.\d+\.\d+)/\d+\s*>\s*(\d+\.\d+\.\d+\.\d+)/\d+"
PROTOCOL_PATTERN = r"protocol=(\w+)"
SEVERITY_LEVEL_PATTERN = r"SeverityLevel=(\d+)"
SEVERITY_PATTERN = r"Severity=(\w+)"

# Output contract: page keys + the reference's final 12 columns minus the
# enrich-stage IP-type columns (added by enrich.classify_ips).
PARSED_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "Timestamp string, Hostname string, AppName string, routing string, "
    "srcIP string, dstIP string, protocol string, "
    "SeverityLevel string, Severity string, Message string"
)

def parse_records_pandas(pdf: pd.DataFrame, keyword: str | None = None) -> pd.DataFrame:
    """The per-batch kernel: html bytes → parsed record columns.

    Pure pandas (same ``re`` engine as the reference) so unit tests can
    compare the distributed result against a driver-local run verbatim.
    An optional ``src_file`` input column is passed through for lineage.
    """
    html = pdf["html"].map(lambda b: b.decode("utf-8", errors="replace") if b is not None else "")

    rec = html.str.extract(LOG_BLOCK_PATTERN)
    rec.columns = ["Timestamp", "Hostname", "AppName", "Message"]
    # Pages with no log block are dropped (reference Phase 1: only rows
    # that exist in the CSVs flow on; a no-record page has no row).
    mask = rec["Timestamp"].notna()
    if keyword is not None:
        # Case-sensitive literal substring, NaN drops (filter_keyword.py:62-68).
        mask &= rec["Message"].str.contains(keyword, case=True, na=False, regex=False)

    out = pd.DataFrame(
        {"url": pdf["url"], "warc_ts": pdf["warc_ts"], "lang": pdf["lang"]}
    )[mask.values]
    rec = rec[mask.values].fillna("")

    msg = rec["Message"]
    # F1 extract_routing (modules/extract_routing.py:77-87): two groups →
    # "src > dst"; no-match → "" via the " > " sentinel rewrite.
    route = msg.str.extract(ROUTING_PATTERN)
    routing = (route[0].fillna("") + " > " + route[1].fillna("")).replace(" > ", "")
    # F2 split_ip (modules/split_ip.py:78-87).
    src_ip = route[0].fillna("")
    dst_ip = route[1].fillna("")
    # F3-F5 single pass over Message (fused; reference runs 3 passes).
    protocol = msg.str.extract(PROTOCOL_PATTERN)[0].fillna("")
    sev_level = msg.str.extract(SEVERITY_LEVEL_PATTERN)[0].fillna("")
    severity = msg.str.extract(SEVERITY_PATTERN)[0].fillna("")

    out["Timestamp"] = rec["Timestamp"]
    out["Hostname"] = rec["Hostname"]
    out["AppName"] = rec["AppName"]
    out["routing"] = routing
    out["srcIP"] = src_ip
    out["dstIP"] = dst_ip
    out["protocol"] = protocol
    out["SeverityLevel"] = sev_level
    out["Severity"] = severity
    out["Message"] = msg
    if "src_file" in pdf.columns:
        # Lineage column last — mapInPandas matches the schema by position.
        out["src_file"] = pdf["src_file"][mask.values]
    return out


def parse_pages(
    pages: DataFrame, keyword: str | None = None, with_lineage: bool = False
) -> DataFrame:
    """Distributed parse: pages(url, warc_ts, html, text, lang) → records.

    Column-prunes to the 4 needed columns (so the parquet scan never reads
    ``text``) and, when a keyword is given, pre-filters on raw html bytes
    JVM-side before any Python/Arrow work. ``with_lineage`` threads the
    source data-file path through as ``src_file`` (per-partition lineage,
    north rule) — dictionary-encoded in parquet, so near-free at rest.
    """
    cols = ["url", "warc_ts", "html", "lang"]
    schema = PARSED_SCHEMA
    if with_lineage:
        pages = pages.withColumn("src_file", F.col("_metadata.file_path"))
        cols.append("src_file")
        schema += ", src_file string"
    src = pages.select(*cols)
    # Recordless-page drop, JVM-side, before any Arrow transfer. Sound for
    # ALL byte inputs: the marker is pure ASCII and ASCII bytes are never
    # valid UTF-8 continuation bytes, so the decoded text contains the
    # marker iff the raw bytes do — a page without it can't match
    # LOG_BLOCK_PATTERN and would produce no row anyway.
    src = src.filter(F.contains(F.col("html"), F.lit(LOG_BLOCK_MARKER.encode("utf-8"))))
    if keyword is not None:
        # Binary contains on undecoded bytes — pushed to the scan stage.
        src = src.filter(F.contains(F.col("html"), F.lit(keyword.encode("utf-8"))))
    # Byte-exact narrowing: ship only html from the FIRST marker onward into
    # Python — the first regex match must start at a marker, and decoding is
    # context-free from an ASCII boundary, so the extracted groups are
    # byte-identical to a full-page decode. The binary→string→binary casts
    # are byte-passthrough (UTF8String.fromBytes / getBytes, no transcode);
    # locate/substr walk the same char boundaries so the slice lands exactly
    # on the marker byte. Guarded by is_valid_utf8 because an invalid
    # multibyte lead byte directly before the marker can shadow it from the
    # boundary walk — such pages (rare in practice) ship unnarrowed and the
    # Python kernel handles them identically. On real Common-Crawl pages
    # (10–100 KB html, records in one block) this cuts Arrow IPC and Python
    # decode traffic by ~the prefix fraction of the page.
    h = F.col("html").cast("string")
    tail = F.substr(h, F.locate(LOG_BLOCK_MARKER, h)).cast("binary")
    src = src.withColumn(
        "html", F.when(F.is_valid_utf8(h), tail).otherwise(F.col("html"))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield parse_records_pandas(pdf, keyword=keyword)

    return src.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# Catalyst-expression variants (JVM-side, whole-stage-codegen) of F1-F5.
# Used where Java-regex/RE2 semantics coincide with Python `re` (these
# patterns use only \d \s \w on ASCII — identical across engines), e.g. the
# driver-contract queries over the provided tables. regexp_extract returns
# "" on no-match, matching the reference's fillna("") convention exactly.
# ---------------------------------------------------------------------------

def extract_routing_expr(msg: Column) -> Column:
    """F1 (modules/extract_routing.py:24-95) as pure expressions."""
    src = F.regexp_extract(msg, ROUTING_PATTERN, 1)
    dst = F.regexp_extract(msg, ROUTING_PATTERN, 2)
    return F.when((src != "") & (dst != ""), F.concat_ws(" > ", src, dst)).otherwise(F.lit(""))


def split_ip_exprs(routing: Column) -> tuple[Column, Column]:
    """F2 (modules/split_ip.py:27-101): routing → (srcIP, dstIP)."""
    parts = F.split(routing, " > ", 2)
    src = F.when(routing == "", F.lit("")).otherwise(F.coalesce(parts.getItem(0), F.lit("")))
    dst = F.when(routing == "", F.lit("")).otherwise(F.coalesce(parts.getItem(1), F.lit("")))
    return src, dst


def extract_protocol_expr(msg: Column) -> Column:
    """F3 (modules/extract_protocol.py:28-84)."""
    return F.regexp_extract(msg, PROTOCOL_PATTERN, 1)


def extract_severity_level_expr(msg: Column) -> Column:
    """F4 (modules/extract_severity_level.py:28-84); digit *string*."""
    return F.regexp_extract(msg, SEVERITY_LEVEL_PATTERN, 1)


def extract_severity_expr(msg: Column) -> Column:
    """F5 (modules/extract_severity.py:28-84)."""
    return F.regexp_extract(msg, SEVERITY_PATTERN, 1)
