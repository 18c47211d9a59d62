"""Parse-stage tests: reference taxonomy (SURVEY §5) — happy path,
no-match → "", keyword case-sensitivity, byte-identity of the distributed
path vs driver-local Python ``re``."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from juniper_syslog_filter_spark.datagen import gen_pages_pandas
from juniper_syslog_filter_spark.functions import parse as P


def _pages_df(spark, n=300, **kw):
    pdf = gen_pages_pandas(np.arange(n), seed=42, **kw)
    return spark.createDataFrame(pdf), pdf


def _mk_page(url, msg_line):
    html = f'<html><body><p>x</p><pre class="log">{msg_line}</pre></body></html>'
    return {
        "url": url,
        "warc_ts": pd.Timestamp("2025-04-28T01:02:03"),
        "html": html.encode(),
        "text": "x",
        "lang": "en",
    }


def test_happy_path_extracts_all_fields(spark):
    line = (
        "2025-04-28T00:15:32Z srx-fw01 RT_IDP RT_IDP_ATTACK_LOG: SQL injection "
        "attack detected 192.168.1.5/12345 > 203.0.113.10/80 protocol=tcp "
        "SeverityLevel=2 Severity=CRITICAL"
    )
    df = spark.createDataFrame(pd.DataFrame([_mk_page("u1", line)]))
    out = P.parse_pages(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r.Timestamp == "2025-04-28T00:15:32Z"
    assert r.Hostname == "srx-fw01"
    assert r.AppName == "RT_IDP"
    assert r.routing == "192.168.1.5 > 203.0.113.10"
    assert r.srcIP == "192.168.1.5"
    assert r.dstIP == "203.0.113.10"
    assert r.protocol == "tcp"
    assert r.SeverityLevel == "2"
    assert r.Severity == "CRITICAL"
    assert r.Message.startswith("RT_IDP_ATTACK_LOG")


def test_no_match_rows_get_empty_strings(spark):
    # No routing, no protocol=, no Severity= → "" everywhere (reference
    # tests/test_extract_routing.py:70-97 convention).
    line = "2025-04-28T00:15:32Z srx-fw01 RT_FLOW RT_FLOW_SESSION_CREATE: session created"
    df = spark.createDataFrame(pd.DataFrame([_mk_page("u1", line)]))
    r = P.parse_pages(df).collect()[0]
    assert r.routing == ""
    assert r.srcIP == "" and r.dstIP == ""
    assert r.protocol == "" and r.SeverityLevel == "" and r.Severity == ""


def test_page_without_log_block_is_dropped(spark):
    pdf = pd.DataFrame(
        [
            _mk_page("u1", "2025-04-28T00:15:32Z h a msg Severity=INFO"),
        ]
    )
    no_block = _mk_page("u2", "ignored")
    no_block["html"] = b"<html><body><p>plain page</p></body></html>"
    pdf = pd.concat([pdf, pd.DataFrame([no_block])], ignore_index=True)
    out = P.parse_pages(spark.createDataFrame(pdf)).collect()
    assert [r.url for r in out] == ["u1"]


def test_keyword_filter_case_sensitive(spark):
    lines = {
        "u1": "t h a RT_IDP_ATTACK_LOG: hit 1.2.3.4/1 > 5.6.7.8/2 protocol=tcp",
        "u2": "t h a rt_idp_attack_log: lowercase miss",
        "u3": "t h a RT_FLOW_SESSION_CREATE: other",
    }
    pdf = pd.DataFrame([_mk_page(u, m) for u, m in lines.items()])
    out = P.parse_pages(spark.createDataFrame(pdf), keyword="RT_IDP_ATTACK").collect()
    assert [r.url for r in out] == ["u1"]


def test_byte_identity_distributed_vs_local_re(spark):
    """The invariant from BASELINE.json input_hint: per url, extracted text
    from the cluster path equals a direct driver-side Python `re` run."""
    df, pdf = _pages_df(spark, n=400)
    got = {r.url: r for r in P.parse_pages(df.repartition(7)).collect()}

    block = re.compile(P.LOG_BLOCK_PATTERN)
    n_checked = 0
    for _, row in pdf.iterrows():
        m = block.search(row["html"].decode("utf-8"))
        if m is None:
            assert row["url"] not in got
            continue
        r = got[row["url"]]
        msg = m.group(4)
        assert r.Message == msg
        rt = re.search(P.ROUTING_PATTERN, msg)
        assert r.srcIP == (rt.group(1) if rt else "")
        assert r.dstIP == (rt.group(2) if rt else "")
        pr = re.search(P.PROTOCOL_PATTERN, msg)
        assert r.protocol == (pr.group(1) if pr else "")
        sl = re.search(P.SEVERITY_LEVEL_PATTERN, msg)
        assert r.SeverityLevel == (sl.group(1) if sl else "")
        sv = re.search(P.SEVERITY_PATTERN, msg)
        assert r.Severity == (sv.group(1) if sv else "")
        n_checked += 1
    assert n_checked > 300


def test_expression_variants_match_python_re(spark):
    """F1-F5 Catalyst expressions agree with Python re on the grammar."""
    from pyspark.sql import functions as F

    _, pdf = _pages_df(spark, n=200, record_ratio=1.0)
    msgs = []
    block = re.compile(P.LOG_BLOCK_PATTERN)
    for h in pdf["html"]:
        msgs.append(block.search(h.decode()).group(4))
    mdf = spark.createDataFrame(pd.DataFrame({"Message": msgs}))
    src, dst = P.split_ip_exprs(P.extract_routing_expr(F.col("Message")))
    out = mdf.select(
        P.extract_routing_expr(F.col("Message")).alias("routing"),
        src.alias("srcIP"),
        dst.alias("dstIP"),
        P.extract_protocol_expr(F.col("Message")).alias("protocol"),
        P.extract_severity_level_expr(F.col("Message")).alias("lvl"),
        P.extract_severity_expr(F.col("Message")).alias("sev"),
        "Message",
    ).collect()
    for r in out:
        rt = re.search(P.ROUTING_PATTERN, r.Message)
        assert r.routing == (f"{rt.group(1)} > {rt.group(2)}" if rt else "")
        assert r.srcIP == (rt.group(1) if rt else "")
        assert r.protocol == re.search(P.PROTOCOL_PATTERN, r.Message).group(1)
        assert r.lvl == re.search(P.SEVERITY_LEVEL_PATTERN, r.Message).group(1)
        assert r.sev == re.search(P.SEVERITY_PATTERN, r.Message).group(1)


def test_narrowing_is_byte_exact_on_adversarial_prefixes(spark):
    """parse_pages narrows valid html to the first-marker tail before the
    block regex (parse.py). The slice must be byte-exact vs a full-page
    driver decode for: multibyte valid prefixes, INVALID UTF-8 (incl. a lead
    byte that shadows the marker from the char-boundary walk — the
    is_valid_utf8 fallback path), multiple markers, and marker-in-prefix
    pages with the real record later."""
    mk = '<pre class="log">'
    pages = {
        "a_ascii": f'junk {mk}2025-01-01T00:00:00Z h app m1 Severity=HIGH</pre> tail',
        "b_multibyte": f'héllo 中文 🙂 {mk}2025-01-01T00:00:00Z h app m2</pre>',
        # invalid lead byte IMMEDIATELY before the marker: boundary walk
        # would step over it — must take the unnarrowed fallback and still
        # match the FIRST record, not the second.
        "c_shadowed": None,
        "d_scattered_invalid": None,
        "e_two_markers": f'x {mk}t1 h1 a1 first</pre> y {mk}t2 h2 a2 second</pre>',
    }
    rows = []
    for url, txt in pages.items():
        if url == "c_shadowed":
            html = b'\xf0' + f'{mk}t h a first</pre>{mk}t2 h2 a2 second</pre>'.encode()
        elif url == "d_scattered_invalid":
            html = b'\xff\xfe pfx \x80' + f'{mk}t h a m5 protocol=udp</pre>'.encode()
        else:
            html = txt.encode()
        rows.append({
            "url": url,
            "warc_ts": pd.Timestamp("2025-04-28T01:02:03"),
            "html": html,
            "text": "x",
            "lang": "en",
        })
    pdf = pd.DataFrame(rows)
    got = {r.url: r for r in P.parse_pages(spark.createDataFrame(pdf)).collect()}

    block = re.compile(P.LOG_BLOCK_PATTERN)
    for _, row in pdf.iterrows():
        m = block.search(row["html"].decode("utf-8", errors="replace"))
        assert row["url"] in got, row["url"]
        r = got[row["url"]]
        assert r.Timestamp == m.group(1), row["url"]
        assert r.Message == m.group(4), row["url"]
    assert got["c_shadowed"].Message == "first"
    assert got["e_two_markers"].Message == "first"
