"""Grok-style parse stage: html bytes → structured syslog record.

Re-expresses reference Phases 1-5 and 7-9 (run.py:75-331) as ONE
Catalyst plan in the scan stage — no intermediate materialization (the
reference writes + re-reads the whole dataset 11 times, SURVEY.md §4.2)
and no Python worker: crossing the Python boundary cost more than the
regex work itself (PAPERS.md, "Accelerating Python UDFs in Vectorized
Query Execution").

Byte-identity invariant (BASELINE.json input_hint): every field equals
what the reference's Python ``re`` extracts with its verbatim patterns:

* block     ``<pre class="log">(\\S+) (\\S+) (\\S+) ([^<]*)</pre>``
* routing   ``(\\d+\\.\\d+\\.\\d+\\.\\d+)/\\d+\\s*>\\s*(\\d+\\.\\d+\\.\\d+\\.\\d+)/\\d+``
  (modules/extract_routing.py:27)
* protocol  ``protocol=(\\w+)``            (modules/extract_protocol.py:31)
* sev-level ``SeverityLevel=(\\d+)``       (modules/extract_severity_level.py:31)
* severity  ``Severity=(\\w+)``            (modules/extract_severity.py:31)
* keyword   case-sensitive substring, NaN→drop (modules/filter_keyword.py:62-68)

The JVM runs them respelled for java.util.regex (:func:`_jvm_pattern`)
so that both engines agree on every code point: Python's ``\\s`` is
Java's White_Space property plus U+001C-U+001F, its ``\\w`` is
``[\\p{L}\\p{N}_]`` and its ``\\d`` is ``\\p{Nd}``. Known gap: Python
3.11 has Unicode 14.0 tables and JDK 17 has Unicode 13.0, so the 525
code points that Unicode 14 made letters or numbers (e.g. U+0870) are
``\\w`` only in Python, and U+16AC0-U+16AC9 are ``\\d`` only in Python.
``tests/test_properties.py`` derives that set from the running JVM and
fences it off; every other code point is pinned equal.

Missing values are the empty string, never null (modules/split_ip.py:70
et al.). Column order follows the reference stage contracts (FIXTURES §3):
:func:`with_message_fields` is the one F1-F5 derivation from ``Message``,
shared by :func:`parse_pages` and the m1/m2 queries, and it places its
columns through ``operators.project.insert_columns``.

:func:`parse_records_pandas` runs the verbatim patterns with pandas —
the reference's own engine — on the driver. It is the oracle the tests
and the benchmark compare against, not a path any job runs.

Scale notes: the keyword filter is pushed *before* the regex as a cheap
binary ``contains`` on raw html bytes (sound: Message is a substring of
html, so no false negatives — the exact Message-level filter after the
parse settles false positives). This is the Sparser-style raw-filter
trick; at 100 TB it skips decode+regex for ~99% of pages when
selectivity is low, preserving the reference's key property that runtime
tracks post-filter volume (README.md:137).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.project import insert_columns

# Reference patterns, verbatim (Python ``re`` syntax).
LOG_BLOCK_PATTERN = r'<pre class="log">(\S+) (\S+) (\S+) ([^<]*)</pre>'
# Every extractable record starts at this literal ASCII marker; used for the
# recordless-page drop and byte-narrowing (see parse_pages).
LOG_BLOCK_MARKER = '<pre class="log">'
ROUTING_PATTERN = r"(\d+\.\d+\.\d+\.\d+)/\d+\s*>\s*(\d+\.\d+\.\d+\.\d+)/\d+"
PROTOCOL_PATTERN = r"protocol=(\w+)"
SEVERITY_LEVEL_PATTERN = r"SeverityLevel=(\d+)"
SEVERITY_PATTERN = r"Severity=(\w+)"

# Python ``re``'s Unicode classes as java.util.regex classes (see module
# docstring for the one known gap).
_PY_CLASSES = {
    r"\S": r"[^\p{IsWhite_Space}\x1C-\x1F]",
    r"\s": r"[\p{IsWhite_Space}\x1C-\x1F]",
    r"\w": r"[\p{L}\p{N}_]",
    r"\d": r"\p{Nd}",
}


def _jvm_pattern(pattern: str) -> str:
    """A reference pattern respelled so java.util.regex matches exactly
    what Python ``re`` matches. The patterns above use these escapes only
    outside character classes, so a textual substitution is exact."""
    for py, java in _PY_CLASSES.items():
        pattern = pattern.replace(py, java)
    return pattern


_LOG_BLOCK_JVM = _jvm_pattern(LOG_BLOCK_PATTERN)
_ROUTING_JVM = _jvm_pattern(ROUTING_PATTERN)
_PROTOCOL_JVM = _jvm_pattern(PROTOCOL_PATTERN)
_SEVERITY_LEVEL_JVM = _jvm_pattern(SEVERITY_LEVEL_PATTERN)
_SEVERITY_JVM = _jvm_pattern(SEVERITY_PATTERN)


def parse_records_pandas(pdf: pd.DataFrame, keyword: str | None = None) -> pd.DataFrame:
    """Driver-local oracle of :func:`parse_pages`: html bytes → parsed
    record columns with the reference's own engine (pandas + Python
    ``re``) and verbatim patterns.
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
    return out


def parse_pages(
    pages: DataFrame, keyword: str | None = None, with_lineage: bool = False
) -> DataFrame:
    """Distributed parse: pages(url, warc_ts, html, text, lang) → records.

    Column-prunes to the 4 needed columns (so the parquet scan never reads
    ``text``) and, when a keyword is given, pre-filters on raw html bytes
    before any decode or regex. ``with_lineage`` threads the source
    data-file path through as ``src_file`` (per-partition lineage, north
    rule) — dictionary-encoded in parquet, so near-free at rest.
    """
    lineage = ["src_file"] if with_lineage else []
    if with_lineage:
        pages = pages.withColumn("src_file", F.col("_metadata.file_path"))
    keys = ["url", "warc_ts", "lang"]
    cols = [*keys, *lineage]
    html = F.col("html")
    # Recordless-page drop on raw bytes. Sound for ALL byte inputs: the
    # marker is pure ASCII and ASCII bytes are never valid UTF-8
    # continuation bytes, so the decoded text contains the marker iff the
    # raw bytes do — a page without it can't match LOG_BLOCK_PATTERN.
    src = pages.filter(F.contains(html, F.lit(LOG_BLOCK_MARKER.encode("utf-8"))))
    if keyword is not None and "\ufffd" not in keyword:
        # Binary contains on undecoded bytes — pushed to the scan stage.
        # Sound unless the keyword holds U+FFFD, which the decode below
        # also makes from invalid bytes.
        src = src.filter(F.contains(html, F.lit(keyword.encode("utf-8"))))
    # Decode exactly as bytes.decode("utf-8", "replace"). A valid page is
    # narrowed to its FIRST marker onward: the first regex match must start
    # at a marker, so the groups equal a full-page search while the regex
    # skips the page prefix. The binary→string cast is byte passthrough
    # (UTF8String.fromBytes), and locate/substr walk char boundaries, so
    # the slice lands exactly on the marker. Guarded by is_valid_utf8
    # because an invalid multibyte lead byte directly before the marker
    # can shadow it from the boundary walk; such pages are repaired whole.
    h = html.cast("string")
    text = F.when(F.is_valid_utf8(h), F.substr(h, F.locate(LOG_BLOCK_MARKER, h))).otherwise(
        F.make_valid_utf8(h)
    )
    src = src.select(*cols, F.regexp_extract(text, _LOG_BLOCK_JVM, 0).alias("_block"))
    # The block is marker, three space-free head fields, one space each,
    # then the message and "</pre>": a 4-way split on " " recovers the
    # groups without a second regex pass.
    block = F.col("_block")  # "" when no match
    n = len(LOG_BLOCK_MARKER)
    inner = F.substr(block, F.lit(n + 1), F.length(block) - n - len("</pre>"))
    # explode of a null array drops the page. Unlike a Filter on the block,
    # the optimizer cannot push it below the projection above and so run
    # the block regex twice.
    fields = F.explode(F.when(block != "", F.array(F.split(inner, " ", 4))))
    head = F.col("_h")
    recs = src.select(*cols, fields.alias("_h")).select(
        *keys,
        head[0].alias("Timestamp"),
        head[1].alias("Hostname"),
        head[2].alias("AppName"),
        head[3].alias("Message"),
        *lineage,
    )
    if keyword is not None:
        # Case-sensitive literal substring of the Message (filter_keyword.py:62-68).
        recs = recs.filter(F.col("Message").contains(keyword))
    return with_message_fields(recs)


def with_message_fields(df: DataFrame) -> DataFrame:
    """F1-F5 derived from ``df``'s ``Message`` column and placed right
    before it: routing, srcIP, dstIP, protocol, SeverityLevel, Severity.

    ``routing`` gets its own projection: both IPs read it twice, so
    CollapseProject keeps its ROUTING regex in that projection and the
    regex runs once per row instead of once per reference.
    """
    msg = F.col("Message")
    df = insert_columns(df, {"routing": extract_routing_expr(msg)})
    src_ip, dst_ip = split_ip_exprs(F.col("routing"))
    return insert_columns(
        df,
        {
            "srcIP": src_ip,
            "dstIP": dst_ip,
            "protocol": extract_protocol_expr(msg),
            "SeverityLevel": extract_severity_level_expr(msg),
            "Severity": extract_severity_expr(msg),
        },
    )


# ---------------------------------------------------------------------------
# F1-F5 as Catalyst expressions (JVM-side, whole-stage codegen), composed
# by with_message_fields and used one by one by the per-module stages
# and p3/m3. regexp_extract
# returns "" on no-match, matching the reference's fillna("") convention.
# ---------------------------------------------------------------------------

def extract_routing_expr(msg: Column) -> Column:
    """F1 (modules/extract_routing.py:24-95) as pure expressions."""
    src = F.regexp_extract(msg, _ROUTING_JVM, 1)
    dst = F.regexp_extract(msg, _ROUTING_JVM, 2)
    return F.when((src != "") & (dst != ""), F.concat_ws(" > ", src, dst)).otherwise(F.lit(""))


def split_ip_exprs(routing: Column) -> tuple[Column, Column]:
    """F2 (modules/split_ip.py:27-101): routing → (srcIP, dstIP)."""
    parts = F.split(routing, " > ", 2)
    src = F.when(routing == "", F.lit("")).otherwise(F.coalesce(parts.getItem(0), F.lit("")))
    dst = F.when(routing == "", F.lit("")).otherwise(F.coalesce(parts.getItem(1), F.lit("")))
    return src, dst


def extract_protocol_expr(msg: Column) -> Column:
    """F3 (modules/extract_protocol.py:28-84)."""
    return F.regexp_extract(msg, _PROTOCOL_JVM, 1)


def extract_severity_level_expr(msg: Column) -> Column:
    """F4 (modules/extract_severity_level.py:28-84); digit *string*."""
    return F.regexp_extract(msg, _SEVERITY_LEVEL_JVM, 1)


def extract_severity_expr(msg: Column) -> Column:
    """F5 (modules/extract_severity.py:28-84)."""
    return F.regexp_extract(msg, _SEVERITY_JVM, 1)
