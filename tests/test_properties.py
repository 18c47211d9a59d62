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

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
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
_ipish = st.one_of(
    st.tuples(_octet, _octet, _octet, _octet).map(
        lambda t: ".".join(map(str, t))
    ),
    st.tuples(_octet, _octet, _octet).map(lambda t: ".".join(map(str, t))),
    st.sampled_from(["", " ", "...", "a.b.c.d", "10.0.0.1.2", "10..0.1"]),
    st.text(alphabet="0123456789. ", min_size=0, max_size=16),
)


@given(ips=st.lists(_ipish, min_size=1, max_size=12))
@settings(**SETTINGS)
def test_ip_classifier_expr_matches_python(spark, ips):
    df = spark.createDataFrame([(ip,) for ip in ips], "ip string")
    rows = df.select("ip", classify_ip_expr(F.col("ip")).alias("cls")).collect()
    for r in rows:
        assert r.cls == classify_ip_address(r.ip), repr(r.ip)


# Syslog-ish messages: grammar fragments permuted with noise so the
# extraction regexes see matches, near-misses, and absent fields.
_frag = st.one_of(
    st.tuples(_octet, _octet, _octet, _octet, _octet, _octet, _octet, _octet).map(
        lambda t: f"{t[0]}.{t[1]}.{t[2]}.{t[3]} > {t[4]}.{t[5]}.{t[6]}.{t[7]}"
    ),
    st.sampled_from(["TCP", "UDP", "ICMP", "protocol TCP", "protocol-id: 6"]),
    st.sampled_from(
        ["severity 5", "severity CRITICAL", "CRITICAL", "WARNING", "INFO"]
    ),
    st.text(alphabet="abcdef0123456789 .>:-", min_size=0, max_size=12),
)
_msg = st.lists(_frag, min_size=0, max_size=6).map(" ".join)


@given(msgs=st.lists(_msg, min_size=1, max_size=10))
@settings(**SETTINGS)
def test_parse_exprs_match_python_re(spark, msgs):
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
        assert r.protocol == (pm.group(1) if pm else "")
        lm = re.search(P.SEVERITY_LEVEL_PATTERN, r.Message)
        assert r.lvl == (lm.group(1) if lm else "")
        sm = re.search(P.SEVERITY_PATTERN, r.Message)
        assert r.sev == (sm.group(1) if sm else "")


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
