"""WARC source tests: byte-level parser edges (no Spark), the
distributed reader roundtrip, and the wc1 fixture contract."""

from __future__ import annotations

import gzip

from juniper_syslog_filter_spark.sources.warc_source import (
    http_body,
    http_response_bytes,
    parse_warc_bytes,
    read_warc,
    read_warc_indexed,
    warc_record_bytes,
    write_warc_file,
)


def _rec(url: str, body: bytes, **kw) -> bytes:
    return warc_record_bytes(
        "response", http_response_bytes(body), url=url,
        date_iso="2024-01-01T00:00:07Z", **kw,
    )


# ---------------------------------------------------------------------------
# pure-bytes parser
# ---------------------------------------------------------------------------

def test_parse_roundtrip_and_offsets():
    blob = _rec("https://a", b"<html>a</html>") + _rec("https://b", b"<html>b</html>")
    rows = list(parse_warc_bytes(blob, "f"))
    assert [r["url"] for r in rows] == ["https://a", "https://b"]
    assert all(r["_error"] == "" for r in rows)
    assert rows[0]["record_offset"] == 0
    assert rows[1]["record_offset"] > 0
    assert rows[0]["warc_ts"].second == 7
    # Content-Length-driven: payload is the full HTTP message.
    assert rows[0]["content"].endswith(b"<html>a</html>")


def test_payload_containing_warc_magic_is_not_a_boundary():
    evil = b"a page about WARC/1.0\r\nWARC-Type: response\r\n\r\n archives"
    blob = _rec("https://evil", evil) + _rec("https://next", b"ok")
    rows = list(parse_warc_bytes(blob, "f"))
    assert [r["url"] for r in rows] == ["https://evil", "https://next"]
    assert evil in rows[0]["content"]


def test_truncated_body_yields_error_row_and_stops():
    blob = _rec("https://a", b"xyz")[:-10]
    rows = list(parse_warc_bytes(blob, "f"))
    assert len(rows) == 1
    assert "truncated record body" in rows[0]["_error"]


def test_bad_magic_and_missing_length():
    rows = list(parse_warc_bytes(b"GIF89a not a warc", "f"))
    assert len(rows) == 1 and "bad magic" in rows[0]["_error"]
    no_len = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody"
    rows = list(parse_warc_bytes(no_len, "f"))
    assert len(rows) == 1 and "Content-Length" in rows[0]["_error"]


def test_lang_header_and_fractional_date():
    rec = warc_record_bytes(
        "response", b"x", url="https://l", content_lang="deu",
        date_iso="2024-01-01T00:00:01.500000Z",
    )
    (row,) = parse_warc_bytes(rec, "f")
    assert row["content_lang"] == "deu"
    assert row["warc_ts"].microsecond == 500000


# ---------------------------------------------------------------------------
# distributed reader
# ---------------------------------------------------------------------------

def test_read_warc_gz_multi_member(spark, tmp_path):
    recs = [_rec(f"https://d/{i}", f"<p>{i}</p>".encode()) for i in range(10)]
    write_warc_file(str(tmp_path / "a.warc.gz"), recs[:5])
    write_warc_file(str(tmp_path / "b.warc"), recs[5:], gzip_per_record=False)
    out = read_warc(spark, str(tmp_path)).orderBy("url").collect()
    # 10 responses + 2 warcinfo rows, none in error
    assert len(out) == 12
    assert all(r._error == "" for r in out)
    types = {r.record_type for r in out}
    assert types == {"response", "warcinfo"}
    resp = [r for r in out if r.record_type == "response"]
    assert sorted(r.url for r in resp) == sorted(f"https://d/{i}" for i in range(10))


def test_read_warc_record_type_filter_and_http_body(spark, tmp_path):
    import pyspark.sql.functions as F

    write_warc_file(
        str(tmp_path / "a.warc.gz"),
        [_rec("https://x", b"<html>BODY</html>")],
    )
    out = read_warc(spark, str(tmp_path), record_types=["response"])
    rows = out.select(
        "url", F.decode(http_body(F.col("content")), "UTF-8").alias("body")
    ).collect()
    assert len(rows) == 1
    assert rows[0].body == "<html>BODY</html>"


def test_read_warc_bad_gzip_isolated(spark, tmp_path):
    (tmp_path / "bad.warc.gz").write_bytes(gzip.compress(b"x")[:8])
    write_warc_file(str(tmp_path / "good.warc.gz"), [_rec("https://ok", b"y")])
    out = read_warc(spark, str(tmp_path)).collect()
    errs = [r for r in out if r._error]
    oks = [r for r in out if not r._error and r.record_type == "response"]
    assert len(errs) == 1 and "gzip" in errs[0]._error
    assert len(oks) == 1 and oks[0].url == "https://ok"


def test_wc1_matches_documents(spark, sf_dir):
    """Fixture contract: wc1 rows == documents rows, text byte-exact."""
    from juniper_syslog_filter_spark.driver_queries import q_wc1_warc_source

    out = {r.url: r for r in q_wc1_warc_source(spark, sf_dir).collect()}
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang")
        .collect()
    )
    assert len(out) == len(docs)
    for d in docs:
        r = out[f"https://example.org/doc/{d.doc_id}"]
        assert r.text == d.text
        assert r.content_lang == d.lang
        assert r.warc_ts.minute * 60 + r.warc_ts.second == d.doc_id % 3600


def test_wc2_fresh_fixture_reads_every_document_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A freshly built fixture publishes each CDX sidecar under its
    archive's final name, so the indexed reader finds every record."""
    import tempfile

    from juniper_syslog_filter_spark.driver_queries import q_wc2_warc_indexed

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = q_wc2_warc_indexed(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs
    assert all(r._error == "" for r in rows)


# ---------------------------------------------------------------------------
# CDX index + ranged reads
# ---------------------------------------------------------------------------

def test_cdx_offsets_cover_file_exactly(tmp_path):
    recs = [_rec(f"https://d/{i}", f"<p>{i}</p>".encode()) for i in range(5)]
    p = tmp_path / "a.warc.gz"
    write_warc_file(str(p), recs)
    lines = (tmp_path / "a.warc.gz.cdx").read_text().splitlines()
    assert len(lines) == 6  # warcinfo + 5 responses
    pos = 0
    for ln in lines:
        off, length = map(int, ln.split())
        assert off == pos
        pos += length
    assert pos == p.stat().st_size


def test_read_warc_indexed_equals_full_reader(spark, tmp_path):
    recs = [_rec(f"https://d/{i}", f"<p>{i}</p>".encode()) for i in range(12)]
    write_warc_file(str(tmp_path / "a.warc.gz"), recs[:7])
    write_warc_file(str(tmp_path / "b.warc.gz"), recs[7:])
    full = read_warc(spark, str(tmp_path)).collect()
    idx = read_warc_indexed(spark, str(tmp_path)).collect()
    key = lambda r: (r.url, r.record_type, bytes(r.content or b""))  # noqa: E731
    assert sorted(map(key, full)) == sorted(map(key, idx))
    assert all(r._error == "" for r in idx)


def test_read_warc_indexed_record_offsets_match_cdx(spark, tmp_path):
    recs = [_rec(f"https://d/{i}", b"x" * (10 + i)) for i in range(4)]
    write_warc_file(str(tmp_path / "a.warc.gz"), recs, warcinfo=False)
    cdx_offsets = [
        int(ln.split()[0])
        for ln in (tmp_path / "a.warc.gz.cdx").read_text().splitlines()
    ]
    rows = read_warc_indexed(spark, str(tmp_path)).orderBy("record_offset").collect()
    assert [r.record_offset for r in rows] == cdx_offsets


def test_read_warc_indexed_bad_range_isolated(spark, tmp_path):
    write_warc_file(str(tmp_path / "a.warc.gz"), [_rec("https://ok", b"y")],
                    warcinfo=False)
    # corrupt the index: a range pointing past EOF -> short read
    with open(tmp_path / "a.warc.gz.cdx", "a") as fh:
        fh.write("999999 50\n")
    out = read_warc_indexed(spark, str(tmp_path)).collect()
    oks = [r for r in out if not r._error]
    errs = [r for r in out if r._error]
    assert len(oks) == 1 and oks[0].url == "https://ok"
    assert len(errs) == 1 and "short read" in errs[0]._error


# ---------------------------------------------------------------------------
# property tests (pure-bytes parser; no Spark session needed)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_body = st.binary(min_size=0, max_size=300)
_urlish = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789./:-", min_size=1, max_size=40
).map(lambda s: "https://" + s)


@given(bodies=st.lists(st.tuples(_urlish, _body), min_size=1, max_size=8))
@settings(max_examples=60, deadline=None)
def test_parse_roundtrip_arbitrary_bodies(bodies):
    """write → parse is the identity on (url, payload) for ANY body
    bytes — including bodies full of \\r\\n, WARC/1.0 magic, or header
    look-alikes. Content-Length framing makes delimiter content
    irrelevant; this is the property delimiter-split parsers fail."""
    blob = b"".join(
        warc_record_bytes("response", body, url=url) for url, body in bodies
    )
    rows = list(parse_warc_bytes(blob, "f"))
    assert [(r["url"], r["content"]) for r in rows] == [
        (url, body) for url, body in bodies
    ]
    assert all(r["_error"] == "" for r in rows)


@given(
    bodies=st.lists(st.tuples(_urlish, _body), min_size=1, max_size=5),
    cut=st.integers(min_value=1, max_value=10_000),
)
@settings(max_examples=60, deadline=None)
def test_parse_truncation_never_crashes_or_fabricates(bodies, cut):
    """Truncating the stream at ANY byte yields only (a) fully intact
    records with byte-exact payloads and (b) at most one error row —
    never a record whose content differs from what was written."""
    blob = b"".join(
        warc_record_bytes("response", body, url=url) for url, body in bodies
    )
    cut = min(cut, len(blob))
    rows = list(parse_warc_bytes(blob[:cut], "f"))
    errs = [r for r in rows if r["_error"]]
    ok = [r for r in rows if not r["_error"]]
    assert len(errs) <= 1
    # truncation cuts only the tail: intact rows are exactly a prefix
    # of what was written, in order, byte-exact
    for r, (url, body) in zip(ok, bodies):
        assert r["url"] == url and r["content"] == body
    assert len(ok) <= len(bodies)


def test_bare_lf_header_with_crlf_http_body():
    """Round-4 advisor finding: a bare-LF-terminated WARC header
    followed by a CRLF-bearing HTTP body must not be misframed. Before
    the fix, the \\r\\n\\r\\n search ran first and landed INSIDE the
    HTTP envelope, so the HTTP Content-Length shadowed the WARC one and
    every subsequent record boundary was corrupt. The parser must take
    whichever header terminator occurs first."""
    http = http_response_bytes(b"<html>lf-header page</html>")
    lf_rec = (
        b"WARC/1.0\n"
        b"WARC-Type: response\n"
        b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-0000000000aa>\n"
        b"WARC-Date: 2024-01-01T00:00:01Z\n"
        b"WARC-Target-URI: https://lf.example\n"
        + f"Content-Length: {len(http)}\n".encode()
        + b"\n"          # bare-LF header terminator
        + http
        + b"\r\n\r\n"
    )
    blob = lf_rec + _rec("https://next", b"<html>next</html>")
    rows = list(parse_warc_bytes(blob, "f"))
    assert [r["url"] for r in rows] == ["https://lf.example", "https://next"]
    assert all(r["_error"] == "" for r in rows)
    # the WARC Content-Length (full HTTP message), not the HTTP one
    assert rows[0]["content"] == http
    assert rows[1]["content"].endswith(b"<html>next</html>")
