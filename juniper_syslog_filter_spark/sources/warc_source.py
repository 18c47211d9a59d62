"""WARC source/sink — Common-Crawl-style web-archive ingest.

The north-star input (BASELINE.json ``input_hint``) is a table of
Common-Crawl-style pages ``(url, warc_ts, html, ...)``. That table is
*ingested from* ``.warc`` / ``.warc.gz`` archives (ISO 28500); this
module is that ingest, in the same distributed shape as
``zip_source.extract_zip_csvs`` (reference modules/extract.py:22-170,
generalized from ZIP-of-CSV to WARC-of-HTTP):

    binaryFile scan (one row per archive) → mapInPandas parse →
    one output row per WARC record

Scale shape: a Common Crawl crawl ships as ~64k archives of ~1 GiB,
each record its own gzip member — gzip is unsplittable mid-stream, so
the unit of parallelism is the ARCHIVE, which is exactly what
``binaryFile`` provides: one task per file, zero shuffle, the parse
runs wherever the bytes land. At 64k files × 1000 executors that is
file-level parallelism with ~64 archives per core — no skew beyond
archive-size variance (Common Crawl pins archives near 1 GiB for this
reason). The per-record upgrade path at real scale is a CDX index
(offset + length per record → ranged reads), the exact analogue of
zip_source's central-directory per-member fan-out; without an index a
WARC cannot be entered mid-file, so this reader does not fake one.

Parsing is Content-Length-driven, never delimiter-split: a payload may
legally contain the bytes ``WARC/1.0\\r\\n`` (a page ABOUT warc files),
so record boundaries come only from each header's ``Content-Length``.
Error isolation mirrors the reference's per-archive guard
(modules/extract.py:147-161): a corrupt archive, bad gzip stream, or
damaged record header yields an ``_error`` row instead of failing the
job. Once a header is unreadable the rest of that archive cannot be
re-synchronized (the next boundary is only knowable from the length
just lost), so one error row covers the remainder — honest, not
per-record-optimistic.

Timestamps: ``WARC-Date`` is ISO-8601 UTC; the session runs UTC
(session.py), so values parse to naive-UTC timestamps with no offset
ambiguity.
"""

from __future__ import annotations

import gzip
import io
from datetime import datetime
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .zip_source import _local_path

WARC_COLUMNS = [
    "url", "warc_ts", "record_type", "content_type", "content_lang",
    "content", "src_file", "record_offset", "_error",
]

_SCHEMA = (
    "url string, warc_ts timestamp, record_type string, "
    "content_type string, content_lang string, content binary, "
    "src_file string, record_offset long, _error string"
)

_GZIP_MAGIC = b"\x1f\x8b"


# ---------------------------------------------------------------------------
# record-level parsing (pure bytes → dicts; unit-testable without Spark)
# ---------------------------------------------------------------------------

def _parse_warc_date(v: str):
    """ISO-8601 ``WARC-Date`` → naive-UTC datetime (None if unreadable).
    Both spec granularities appear in the wild: seconds and fractional
    seconds, always with a trailing Z."""
    v = v.strip()
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return datetime.strptime(v, fmt)
        except ValueError:
            continue
    return None


def _err_row(src: str, offset: int, msg: str) -> dict:
    return {
        "url": "", "warc_ts": None, "record_type": "", "content_type": "",
        "content_lang": "", "content": None, "src_file": src,
        "record_offset": offset, "_error": msg,
    }


def parse_warc_bytes(blob: bytes, src: str) -> Iterator[dict]:
    """Iterate records of one (already-decompressed) WARC stream.

    Content-Length drives every boundary. On a damaged header the
    remainder of the stream is unrecoverable (see module docstring) —
    one error row is emitted and iteration stops.
    """
    pos, n = 0, len(blob)
    while pos < n:
        # Inter-record separator: the spec's two CRLFs after the block
        # (tolerate bare LF from sloppy writers).
        while pos < n and blob[pos] in (0x0D, 0x0A):
            pos += 1
        if pos >= n:
            return
        start = pos
        if not blob.startswith(b"WARC/", pos):
            yield _err_row(src, start, "bad magic: record does not start with WARC/")
            return
        # Take whichever header terminator occurs FIRST.  Searching for
        # \r\n\r\n alone would let a bare-LF-terminated WARC header
        # (tolerated per the module docstring) followed by a CRLF-bearing
        # HTTP body swallow body bytes into the header — the HTTP
        # Content-Length line would then shadow the WARC one and corrupt
        # every subsequent record boundary.
        sep_crlf = blob.find(b"\r\n\r\n", pos)
        sep_lf = blob.find(b"\n\n", pos)
        if sep_crlf != -1 and (sep_lf == -1 or sep_crlf < sep_lf):
            sep, sep_len = sep_crlf, 4
        else:
            sep, sep_len = sep_lf, 2
        if sep == -1:
            yield _err_row(src, start, "truncated record header")
            return
        headers: dict[str, str] = {}
        head_lines = blob[pos:sep].decode("latin-1").splitlines()
        for line in head_lines[1:]:  # line 0 is the WARC/1.x version
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
            if length < 0:
                raise ValueError(length)
        except (KeyError, ValueError):
            yield _err_row(src, start, "missing or invalid Content-Length")
            return
        body_start = sep + sep_len
        body = blob[body_start:body_start + length]
        if len(body) < length:
            yield _err_row(
                src, start,
                f"truncated record body: want {length} bytes, have {len(body)}",
            )
            return
        yield {
            "url": headers.get("warc-target-uri", ""),
            "warc_ts": _parse_warc_date(headers.get("warc-date", "")),
            "record_type": headers.get("warc-type", ""),
            "content_type": headers.get("content-type", ""),
            "content_lang": headers.get("warc-identified-content-language", ""),
            "content": body,
            "src_file": src,
            "record_offset": start,
            "_error": "",
        }
        pos = body_start + length


def _gunzip_all(blob: bytes) -> bytes:
    """Decompress a possibly multi-member gzip stream (Common Crawl
    writes one member PER RECORD so ranged reads can start at any
    member; ``GzipFile`` reads concatenated members natively)."""
    with gzip.GzipFile(fileobj=io.BytesIO(blob)) as fh:
        return fh.read()


# ---------------------------------------------------------------------------
# the distributed source
# ---------------------------------------------------------------------------

def _records_frame(rows: list[dict]) -> pd.DataFrame:
    out = pd.DataFrame(rows, columns=WARC_COLUMNS)
    out["warc_ts"] = pd.to_datetime(out["warc_ts"])
    out["record_offset"] = out["record_offset"].astype("int64")
    return out


def read_warc(
    spark: SparkSession,
    path_glob: str,
    record_types: list[str] | None = None,
) -> DataFrame:
    """Distributed WARC reader: every record of every matched archive →
    one row ``(url, warc_ts, record_type, content_type, content_lang,
    content, src_file, record_offset, _error)``.

    ``record_types`` filters INSIDE the parse task (e.g.
    ``["response"]`` to drop request/metadata/warcinfo records before
    they cross the Arrow boundary — at Common-Crawl ratios that is
    ~2/3 of the rows); error rows always pass. Gzip is detected by
    magic bytes, not extension, and multi-member streams (one member
    per record, the Common Crawl layout) decompress transparently.
    """
    keep = set(record_types) if record_types else None
    # Flush every N records: a 1 GiB archive holds ~50k records — one
    # pandas frame for all of them would spike task memory on top of
    # the (unavoidable with binaryFile) whole-archive blob. Bounded
    # emission keeps the Arrow writer draining while the parse runs.
    flush_every = 2048

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, blob in zip(pdf["path"], pdf["content"]):
                blob = bytes(blob)
                if blob[:2] == _GZIP_MAGIC:
                    try:
                        blob = _gunzip_all(blob)
                    except (OSError, EOFError) as e:
                        yield _records_frame(
                            [_err_row(path, 0, f"bad gzip stream: {e}")]
                        )
                        continue
                rows: list[dict] = []
                for r in parse_warc_bytes(blob, path):
                    if keep is None or r["_error"] or r["record_type"] in keep:
                        rows.append(r)
                        if len(rows) >= flush_every:
                            yield _records_frame(rows)
                            rows = []
                if rows:
                    yield _records_frame(rows)
        yield _records_frame([])

    src = (
        spark.read.format("binaryFile")
        # {} alternation: matches archives but NOT the .cdx sidecars
        .option("pathGlobFilter", "*.{warc,warc.gz}")
        .load(path_glob)
    )
    return src.select("path", "content").mapInPandas(run, schema=_SCHEMA)


def http_body(col: Column) -> Column:
    """Strip the HTTP envelope from an ``application/http`` record
    payload: everything after the first blank line. Non-HTTP payloads
    (no ``HTTP/`` status line) pass through unchanged — WET-style
    ``conversion`` records carry bare text. Arrow-batched pandas UDF
    (built lazily — needs an active session); the kernel per element is
    one ``find`` + slice."""

    def strip_series(content: pd.Series) -> pd.Series:
        def strip(b):
            if b is None:
                return None
            b = bytes(b)
            if not b.startswith(b"HTTP/"):
                return b
            sep = b.find(b"\r\n\r\n")
            if sep == -1:
                sep = b.find(b"\n\n")
                return b[sep + 2:] if sep != -1 else b
            return b[sep + 4:]

        return content.map(strip)

    return F.pandas_udf(strip_series, "binary")(col)


# ---------------------------------------------------------------------------
# the writer (fixture factory + the sink direction)
# ---------------------------------------------------------------------------

def warc_record_bytes(
    record_type: str,
    body: bytes,
    url: str = "",
    date_iso: str = "2024-01-01T00:00:00Z",
    record_id: str = "urn:uuid:00000000-0000-0000-0000-000000000000",
    content_type: str = "application/http; msgtype=response",
    content_lang: str = "",
) -> bytes:
    """One spec-shaped WARC/1.0 record: version line, named headers,
    Content-Length, blank line, body, two CRLFs."""
    head = ["WARC/1.0", f"WARC-Type: {record_type}",
            f"WARC-Record-ID: <{record_id}>", f"WARC-Date: {date_iso}"]
    if url:
        head.append(f"WARC-Target-URI: {url}")
    if content_lang:
        head.append(f"WARC-Identified-Content-Language: {content_lang}")
    head.append(f"Content-Type: {content_type}")
    head.append(f"Content-Length: {len(body)}")
    return ("\r\n".join(head) + "\r\n\r\n").encode("latin-1") + body + b"\r\n\r\n"


def http_response_bytes(body: bytes, content_type: str = "text/html") -> bytes:
    """Minimal HTTP/1.1 200 envelope around a payload body."""
    head = (
        f"HTTP/1.1 200 OK\r\nContent-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    )
    return head.encode("latin-1") + body


def write_warc_file(
    path: str,
    records: list[bytes],
    gzip_per_record: bool = True,
    warcinfo: bool = True,
) -> None:
    """Concatenate records into one archive. ``gzip_per_record`` uses
    the Common Crawl layout (one gzip member per record; ``mtime=0`` and
    no filename field keep the bytes a pure function of the content —
    fixture determinism). A leading ``warcinfo`` record mirrors real
    archives.

    The ``<path>.cdx`` offset index is written alongside (one
    ``offset length`` line per gzip member / raw record, in file
    order) — the Common Crawl CDX idea reduced to what ranged reads
    need. :func:`read_warc_indexed` consumes it for record-level
    parallelism."""
    parts = []
    if warcinfo:
        info = b"software: juniper-syslog-filter-spark warc writer\r\n"
        parts.append(warc_record_bytes(
            "warcinfo", info, content_type="application/warc-fields",
        ))
    parts.extend(records)
    lines = []
    offset = 0
    with open(path, "wb") as fh:
        for rec in parts:
            blob = gzip.compress(rec, mtime=0) if gzip_per_record else rec
            fh.write(blob)
            lines.append(f"{offset} {len(blob)}")
            offset += len(blob)
    with open(f"{path}.cdx", "w", encoding="ascii") as fh:
        fh.write("\n".join(lines) + "\n")


def read_warc_indexed(
    spark: SparkSession,
    path_glob: str,
    record_types: list[str] | None = None,
) -> DataFrame:
    """Record-level-parallel WARC reader via the CDX offset index — the
    ranged-read pattern Common Crawl's real CDX serves, and the WARC
    analogue of zip_source's central-directory per-member fan-out.

    The ``*.cdx`` sidecars (tiny: one ``offset length`` line per
    record) are scanned distributed; the (file, offset, length) triples
    repartition across the cluster, and each task SEEKS into its
    archive and reads only its member — per-record gzip members make a
    member read cost O(member), not O(archive). Unlike
    :func:`read_warc`, parallelism here is the RECORD count, not the
    archive count — the right shape when archives are few and huge, or
    when a query wants a sliver of each archive (on object stores the
    seek+read becomes a ranged GET). Paths must be task-readable
    (file:/ here; DFS/fuse at scale). Same output schema and error
    isolation as :func:`read_warc`.
    """
    keep = set(record_types) if record_types else None

    cdx = (
        spark.read.format("text")
        .option("pathGlobFilter", "*.cdx")
        .load(path_glob)
        .selectExpr(
            # anchored: strip only the trailing .cdx, not an infix match
            r"regexp_replace(input_file_name(), '\\.cdx$', '') AS src",
            "CAST(split(value, ' ')[0] AS LONG) AS off",
            "CAST(split(value, ' ')[1] AS LONG) AS len",
        )
    )
    n_tasks = max(1, spark.sparkContext.defaultParallelism)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        handles: dict[str, object] = {}
        try:
            for pdf in batches:
                rows: list[dict] = []
                for src, off, length in zip(pdf["src"], pdf["off"], pdf["len"]):
                    lp = _local_path(src)
                    if lp is None:
                        rows.append(_err_row(src, int(off), "not a file: path"))
                        continue
                    try:
                        fh = handles.get(lp)
                        if fh is None:
                            fh = handles[lp] = open(lp, "rb")
                        fh.seek(int(off))
                        blob = fh.read(int(length))
                    except OSError as e:
                        rows.append(_err_row(src, int(off), str(e)))
                        continue
                    if len(blob) < int(length):
                        # a stale/corrupt index can point past EOF; a
                        # short read would otherwise parse to zero
                        # records and vanish silently
                        rows.append(_err_row(
                            src, int(off),
                            f"short read: want {int(length)} bytes at "
                            f"offset {int(off)}, got {len(blob)}",
                        ))
                        continue
                    if blob[:2] == _GZIP_MAGIC:
                        try:
                            blob = _gunzip_all(blob)
                        except (OSError, EOFError) as e:
                            rows.append(
                                _err_row(src, int(off), f"bad gzip member: {e}")
                            )
                            continue
                    for r in parse_warc_bytes(blob, src):
                        r["record_offset"] = int(off)
                        if keep is None or r["_error"] or r["record_type"] in keep:
                            rows.append(r)
                if rows:
                    yield _records_frame(rows)
        finally:
            for fh in handles.values():
                fh.close()  # type: ignore[union-attr]
        yield _records_frame([])

    return cdx.repartition(n_tasks).mapInPandas(run, schema=_SCHEMA)
