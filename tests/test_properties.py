"""Property-based (hypothesis) twin-equivalence tests.

The engine keeps two definitions of every hot function — the executed
form (a pandas_udf kernel or a Catalyst expression) and its oracle (the
DuckDB ``*_sql`` twin, or Python re/str on the driver) — and the
fixed-corpus tests assert they agree on curated examples. These
properties assert the same on RANDOM inputs: hypothesis drives
adversarial strings (weird whitespace runs, stopword fragments,
malformed IPs, boundary octets) through both twins at once.

Each example batches its generated rows into ONE small Spark job;
max_examples is kept low because a Spark round-trip costs ~0.2 s.
"""

from __future__ import annotations

import re
import unicodedata

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from juniper_syslog_filter_spark.functions import parse as P
from juniper_syslog_filter_spark.functions import text as T
from juniper_syslog_filter_spark.functions.ip import (
    classify_ip_address,
    classify_ip_expr,
)
from juniper_syslog_filter_spark.functions.text import STOPWORDS
from juniper_syslog_filter_spark.operators.dedup import simhash, simhash_sql

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# Words biased toward collisions with the stopword lists plus arbitrary
# ASCII tokens; joined with single spaces (the tokenizer's delimiter).
_all_stopwords = sorted(set().union(*STOPWORDS.values()))
_word = st.one_of(
    st.sampled_from(_all_stopwords),
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyzüéñç0123456789", min_size=1, max_size=8
    ),
)
_text = st.lists(_word, min_size=0, max_size=30).map(" ".join)


@given(texts=st.lists(_text, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_text_kernels_match_expressions(spark, texts):
    """Each Arrow kernel equals its DuckDB ``*_sql`` twin."""
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    got = df.select(
        "i",
        T.lang_id(F.col("t")),
        T.rolling_hash(F.col("t")),
        simhash(F.col("t"), 32),
    ).orderBy("i").collect()
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"i": range(len(texts)), "t": texts}))
    want = con.execute(
        f"SELECT i, {T.lang_id_sql('t')}, {T.rolling_hash_sql('t')}, "
        f"{simhash_sql('t', 32)} FROM docs ORDER BY i"
    ).fetchall()
    assert [tuple(r) for r in got] == want


# IPv4-shaped and garbage inputs: valid octets, boundary values around
# the RFC-1918 edges, too-large octets, wrong arity, junk separators.
_octet = st.one_of(
    st.integers(min_value=0, max_value=255),
    st.sampled_from([9, 10, 11, 171, 172, 173, 15, 16, 31, 32, 167, 168, 169]),
    st.integers(min_value=256, max_value=999),
)

# Every Unicode decimal digit zero; digit d of a script is its zero + d.
_ND_ZEROS = [
    c for c in map(chr, range(0x110000)) if unicodedata.category(c) == "Nd" and unicodedata.decimal(c) == 0
]


def _in_scripts(octet: int, zeros: list[str]) -> str:
    return "".join(chr(ord(z) + int(d)) for d, z in zip(str(octet), zeros))


# RFC-1918-leaning IPs whose every digit is written in a script drawn
# from all Unicode decimal digit sets, ASCII included.
_nd_octets = st.tuples(st.sampled_from([10, 172, 192]), st.sampled_from([0, 16, 31, 168]), _octet, _octet)
_nd_ip = st.tuples(_nd_octets, st.lists(st.sampled_from(_ND_ZEROS), min_size=12, max_size=12)).map(
    lambda t: ".".join(_in_scripts(o, t[1][3 * i :]) for i, o in enumerate(t[0]))
)
_ipish = st.one_of(
    st.tuples(_octet, _octet, _octet, _octet).map(
        lambda t: ".".join(map(str, t))
    ),
    _nd_ip,
    st.tuples(_octet, _octet, _octet).map(lambda t: ".".join(map(str, t))),
    st.sampled_from(["", " ", "...", "a.b.c.d", "10.0.0.1.2", "10..0.1"]),
    st.text(alphabet="0123456789. ", min_size=0, max_size=16),
)


@given(ips=st.lists(_ipish, min_size=1, max_size=12))
@example(ips=["١٠.٠.٠.١", "١٩٢.١٦٨.1.1", "10.0.0.٣", "𝟏𝟎.0.0.1"])
@settings(**SETTINGS)
def test_ip_classifier_expr_matches_python(spark, ips):
    df = spark.createDataFrame([(ip,) for ip in ips], "ip string")
    rows = df.select("ip", classify_ip_expr(F.col("ip")).alias("cls")).collect()
    for r in rows:
        assert r.cls == classify_ip_address(r.ip), repr(r.ip)


@pytest.fixture(scope="module")
def unicode_gap(spark) -> frozenset[str]:
    r"""Code points Python ``re`` counts as ``\w`` or ``\d`` but this JVM's
    respelled classes do not: the Unicode-version gap documented in
    parse.py, derived from the running JVM rather than hard-coded."""
    chars = [chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    gap: set[str] = set()
    for cls in (r"\w", r"\d"):
        py = re.compile(cls)
        mine = pd.DataFrame({"c": [c for c in chars if py.fullmatch(c)]})
        jvm = f"^{P._jvm_pattern(cls)}$"
        df = spark.createDataFrame(mine)
        gap |= {r.c for r in df.filter(~F.col("c").rlike(jvm)).collect()}
    return frozenset(gap)


def test_unicode_gap_is_unassigned_in_the_jvm(spark, unicode_gap):
    """Every fenced code point is one the JVM's Unicode tables do not
    assign at all (JDK 17: Unicode 13.0; Python 3.11: 14.0), so the gap is
    a table version, not a misspelled class."""
    df = spark.createDataFrame(pd.DataFrame({"c": sorted(unicode_gap)}, dtype=object), "c string")
    assert df.filter(~F.col("c").rlike(r"^\p{Cn}$")).count() == 0


def _fence(s: str, gap: frozenset[str]) -> str:
    return "".join(c for c in s if c not in gap)


# Characters where Python ``re`` and java.util.regex part most easily:
# non-ASCII decimal digits (Arabic-Indic U+0663, Devanagari, fullwidth),
# numbers that are \w but not \d (superscript U+00B2), Unicode spaces
# (U+2003, U+3000, U+00A0, NEL U+0085), the separators only Python counts
# as \s (U+001C-U+001F), non-ASCII letters — plus any code point at all.
_TRICKY = "٣१１²\u2003\u3000\xa0\u0085\x1c\x1fаé_\t\n"
_uchar = st.one_of(st.sampled_from(_TRICKY), st.characters(exclude_categories=("Cs",)))
_digits = st.text(st.one_of(st.sampled_from("0123456789"), _uchar), min_size=1, max_size=3)
_ws = st.text(st.sampled_from(" \u2003\x1c\x85\t\xa0"), max_size=2)
_ip = st.lists(_digits, min_size=4, max_size=4).map(".".join)
_route = st.tuples(_ip, _digits, _ws, _ws, _ip, _digits).map(
    lambda t: f"{t[0]}/{t[1]}{t[2]}>{t[3]}{t[4]}/{t[5]}"
)
_uword = st.text(st.one_of(st.sampled_from("tcpCRIT019_"), _uchar), max_size=4)
# Syslog-ish messages: grammar fragments over any code point, permuted with
# noise, so the extraction regexes see matches, near-misses and absent fields.
_frag = st.one_of(
    _route,
    _uword.map(lambda w: f"protocol={w}"),
    _digits.map(lambda d: f"SeverityLevel={d}"),
    _uword.map(lambda w: f"Severity={w}"),
    st.text(st.characters(exclude_categories=("Cs",)), max_size=8),
)
_msg = st.lists(_frag, min_size=0, max_size=6).map(" ".join)

# Reference behaviours the ASCII-only JVM patterns got wrong: an
# Arabic-Indic digit, a Cyrillic letter inside \w+, an em-space around
# ">", a superscript digit (\w, not \d), NEL and U+001C as \s.
_UNICODE_CASES = [
    "10.0.0.٣/5 > 1.2.3.4/80 protocol=tcp SeverityLevel=٣ Severity=CRIT",
    "protocol=tаp Severity=жX",
    "1.2.3.4/5\u2003>\u20036.7.8.9/10",
    "protocol=x² SeverityLevel=² Severity=²",
    "1.2.3.4/5\x85>\x1c6.7.8.9/10",
]


@given(msgs=st.lists(_msg, min_size=1, max_size=10))
@example(msgs=_UNICODE_CASES)
@settings(**SETTINGS)
def test_parse_exprs_match_python_re(spark, unicode_gap, msgs):
    msgs = [_fence(m, unicode_gap) for m in msgs]
    df = spark.createDataFrame([(m,) for m in msgs], "Message string")
    src, dst = P.split_ip_exprs(P.extract_routing_expr(F.col("Message")))
    rows = df.select(
        "Message",
        P.extract_routing_expr(F.col("Message")).alias("routing"),
        src.alias("srcIP"),
        dst.alias("dstIP"),
        P.extract_protocol_expr(F.col("Message")).alias("protocol"),
        P.extract_severity_level_expr(F.col("Message")).alias("lvl"),
        P.extract_severity_expr(F.col("Message")).alias("sev"),
    ).collect()
    for r in rows:
        m = re.search(P.ROUTING_PATTERN, r.Message)
        routing = f"{m.group(1)} > {m.group(2)}" if m else ""
        assert r.routing == routing, repr(r.Message)
        assert r.srcIP == (m.group(1) if m else "")
        assert r.dstIP == (m.group(2) if m else "")
        pm = re.search(P.PROTOCOL_PATTERN, r.Message)
        assert r.protocol == (pm.group(1) if pm else ""), repr(r.Message)
        lm = re.search(P.SEVERITY_LEVEL_PATTERN, r.Message)
        assert r.lvl == (lm.group(1) if lm else ""), repr(r.Message)
        sm = re.search(P.SEVERITY_PATTERN, r.Message)
        assert r.sev == (sm.group(1) if sm else ""), repr(r.Message)


# Raw html bytes: log blocks whose head fields and message range over any
# code point, stray markers and "</pre>", and invalid UTF-8 (lone
# continuation, truncated sequences, an encoded surrogate, overlong and
# out-of-range forms) anywhere, including right before a marker.
_MARK = P.LOG_BLOCK_MARKER.encode()
_BAD_UTF8 = [b"\x80", b"\xff", b"\xc3", b"\xe2\x82", b"\xf0\x9f\x98", b"\xed\xa0\x80",
             b"\xc0\xaf", b"\xf4\x90\x80\x80"]
_head = st.text(st.one_of(st.sampled_from("abT019:-"), _uchar), max_size=4)
_block = st.tuples(_head, _head, _head, _msg).map(lambda t: " ".join(t).encode())
_piece = st.one_of(
    st.sampled_from([_MARK, b"</pre>", b" ", b"<", b"RT_IDP_ATTACK", *_BAD_UTF8]),
    st.binary(max_size=6),
    _block,
    _msg.map(str.encode),
)
_junk = st.lists(_piece, max_size=6).map(b"".join)
_html = st.one_of(
    _junk,
    st.tuples(_junk, _block, _junk).map(lambda t: t[0] + _MARK + t[1] + b"</pre>" + t[2]),
)


def _fence_bytes(b: bytes, gap: frozenset[str]) -> bytes:
    pat = re.compile(b"|".join(re.escape(c.encode()) for c in sorted(gap)) or b"(?!)")
    while True:
        out = pat.sub(b"", b)
        if out == b:
            return out
        b = out


@given(
    htmls=st.lists(_html, min_size=1, max_size=8),
    keyword=st.sampled_from([None, "RT_IDP_ATTACK", "٣", "a", "�"]),
)
@example(
    htmls=[_MARK + f"t h a {m}".encode() + b"</pre>" for m in _UNICODE_CASES]
    + [b"\xff" + _MARK + b"t\xe2\x80\x83x h a m</pre>", _MARK + b"t h a \xed\xa0\x80</pre>"],
    keyword=None,
)
@example(htmls=[_MARK + b"t h a \xff</pre>", _MARK + b"t h a \xef\xbf\xbd</pre>"], keyword="�")
@settings(**SETTINGS)
def test_parse_pages_matches_pandas_oracle(spark, unicode_gap, htmls, keyword):
    """parse_pages (the one JVM parse) equals the pandas/Python-re oracle,
    row for row and byte for byte, on arbitrary html bytes."""
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(len(htmls))],
            "warc_ts": pd.Timestamp("2025-04-28T01:02:03"),
            "html": [_fence_bytes(h, unicode_gap) for h in htmls],
            "text": "",
            "lang": "en",
        }
    )
    cols = [
        "url", "lang", "Timestamp", "Hostname", "AppName", "routing", "srcIP",
        "dstIP", "protocol", "SeverityLevel", "Severity", "Message",
    ]
    got = P.parse_pages(spark.createDataFrame(pdf), keyword=keyword)
    want = P.parse_records_pandas(pdf, keyword=keyword)
    assert sorted(tuple(r) for r in got.select(*cols).collect()) == sorted(
        map(tuple, want[cols].values.tolist())
    )


# ---------------------------------------------------------------------------
# round-3 additions: quality cascade / n-grams / hash split vs Python oracles
# ---------------------------------------------------------------------------


def _py_quality_rule(text: str, n_chars: int) -> str:
    """Driver-local Python oracle of functions.text.quality_rule_expr."""
    ws = text.split(" ")
    nw = len(ws)
    mwl = (len(text) - nw + 1) / nw
    stop_frac = sum(1 for w in ws if w in T.QUALITY_STOPWORDS) / nw
    if nw < 40:
        return "too_short"
    if n_chars > 450:
        return "too_long"
    if mwl < 4.05 or mwl > 4.6:
        return "word_len"
    if stop_frac < 0.04:
        return "low_stopword"
    return "keep"


@given(
    rows=st.lists(
        st.tuples(
            st.lists(_word, min_size=1, max_size=60).map(" ".join),
            st.integers(min_value=0, max_value=600),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_quality_rule_expr_matches_python(spark, rows):
    df = spark.createDataFrame(rows, "t string, n_chars long")
    got = df.select(
        "t",
        "n_chars",
        T.quality_rule_expr(F.col("t"), F.col("n_chars")).alias("rule"),
    ).collect()
    for r in got:
        assert r.rule == _py_quality_rule(r.t, r.n_chars), r.t


@given(
    texts=st.lists(
        st.lists(_word, min_size=0, max_size=20).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(min_value=2, max_value=5),
)
@settings(**SETTINGS)
def test_word_ngram_array_matches_python(spark, texts, n):
    from juniper_syslog_filter_spark.operators.contamination import (
        word_ngram_array,
    )

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = df.select(
        "t", word_ngram_array(F.col("t"), n).alias("g")
    ).collect()
    for r in got:
        ws = r.t.split(" ")
        want = (
            [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
            if len(ws) >= n
            else []
        )
        assert r.g == want, (r.t, n)


@given(ids=st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=20, unique=True))
@settings(**SETTINGS)
def test_train_val_split_matches_python_md5(spark, ids):
    import hashlib

    from juniper_syslog_filter_spark.operators.sampling import train_val_split

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.split for r in train_val_split(df, "doc_id").collect()}
    for i in ids:
        hx = hashlib.md5(f"{i}:split:42".encode()).hexdigest()[:2]
        want = "test" if hx < "0d" else ("val" if hx < "1a" else "train")
        assert got[i] == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from(["a", "b", "c", "hot"])),
        min_size=1,
        max_size=40,
    ),
    n_salts=st.integers(1, 6),
)
@settings(**SETTINGS)
def test_salted_join_matches_plain_join(spark, rows, n_salts):
    """Salting rewrites the physical distribution only: for ANY fact
    frame, dim and salt width, the salted join's multiset of rows
    equals the plain join's."""
    from juniper_syslog_filter_spark.operators.skewjoin import salted_join

    fact = spark.createDataFrame(
        [(i, k) for i, (_, k) in enumerate(rows)], "row_id: long, k: string"
    )
    dim = spark.createDataFrame(
        [("a", 1), ("hot", 2), ("zz", 3)], "k: string, w: int"
    )
    got = sorted(
        map(
            tuple,
            salted_join(
                fact, dim, on="k", entropy_col="row_id", n_salts=n_salts
            ).collect(),
        )
    )
    want = sorted(map(tuple, fact.join(dim, "k").collect()))
    assert got == want


# -- exact_substring_spans vs brute force -----------------------------------

# Tiny vocabulary maximizes shared k-grams and within-doc gram repeats —
# the adversarial regime for the diagonal run-merge (repeated grams hit
# multiple diagonals; runs abut and must not merge across gaps).
_span_word = st.sampled_from(["a", "b", "c", "dd"])
_span_doc = st.lists(_span_word, min_size=0, max_size=24).map(" ".join)


@given(docs=st.lists(_span_doc, min_size=2, max_size=5))
@settings(**SETTINGS)
def test_substring_spans_property(spark, docs):
    from tests.test_dedup import _spans_brute
    from juniper_syslog_filter_spark.operators.dedup import (
        exact_substring_spans,
    )

    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    k, min_len, cap = 3, 4, 3
    got = {
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_words)
        for r in exact_substring_spans(
            df, "doc_id", "text", k=k, min_len=min_len, max_docs_per_gram=cap
        ).collect()
    }
    assert got == _spans_brute(rows, k=k, min_len=min_len, cap=cap)


# ---------------------------------------------------------------------------
# PNG codec round-trip (functions/png.py) — pure Python, no Spark session
# ---------------------------------------------------------------------------

_png_dims = st.tuples(
    st.integers(min_value=1, max_value=12),  # h
    st.integers(min_value=1, max_value=12),  # w
    st.sampled_from([1, 2, 3, 4]),           # channels
)


@given(
    dims=_png_dims,
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    filters=st.lists(
        st.integers(min_value=0, max_value=4), min_size=1, max_size=5
    ),
)
@settings(**SETTINGS)
def test_png_roundtrip_property(dims, seed, filters):
    """encode→decode is the identity for every shape / channel count /
    per-row filter assignment — the property the mm5 oracle relies on."""
    import numpy as np

    from juniper_syslog_filter_spark.functions.png import (
        decode_png,
        encode_png,
    )

    h, w, c = dims
    rng = np.random.RandomState(seed)
    shape = (h, w) if c == 1 else (h, w, c)
    a = rng.randint(0, 256, size=shape).astype(np.uint8)
    out = decode_png(encode_png(a, filters=filters))
    assert out.shape == a.shape and (out == a).all()
