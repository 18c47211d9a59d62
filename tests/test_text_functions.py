"""Text-analysis function tests (lang-ID, rolling hash, BPE-ish token
count) against driver-local Python oracles and the DuckDB ``*_sql``
twins."""

from __future__ import annotations

import re

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from juniper_syslog_filter_spark.functions import text as T


def test_lang_id_votes(spark):
    rows = [
        (1, "the cat sat on a mat and the dog too"),
        (2, "der hund und die katze und das haus"),
        (3, "el perro y los gatos que es bueno"),
        (4, "le chien et les chats est une idee"),
        (5, "xyzzy plugh quux"),
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    got = {r.id: r.l for r in df.select("id", T.lang_id(F.col("t")).alias("l")).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "fr", 5: "und"}


def test_lang_id_tie_breaks_by_priority(spark):
    # 'y'∈es, 'et'∈fr → 1 vote each → tie → es wins (priority order).
    df = spark.createDataFrame([(1, "y et")], "id int, t string")
    assert df.select(T.lang_id(F.col("t")).alias("l")).collect()[0].l == "es"


def test_rolling_hash_matches_python(spark):
    texts = ["hello world", "a", "", "the quick brown fox"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, t string")
    got = {r.id: r.h for r in df.select("id", T.rolling_hash(F.col("t")).alias("h")).collect()}

    def py(t):
        h = 0
        for c in t:
            h = (h * 31 + ord(c)) % 1_000_000_007
        return h

    for i, t in enumerate(texts):
        assert got[i] == py(t), t


def test_kernels_match_expression_spec(spark):
    """lang_id / rolling_hash execute as pandas_udf kernels; their
    DuckDB ``*_sql`` twins are the spec — both must agree on a corpus
    covering ties, empties, long docs, and und."""
    texts = [
        "the cat and the dog", "der hund ist und", "el que y los",
        "le et est une", "y et", "", "no stop words here",
        "und der the a of", "x" * 3000, "mixed the der el le est",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, t string")
    got = df.select(
        "id", T.lang_id(F.col("t")), T.rolling_hash(F.col("t"))
    ).orderBy("id").collect()
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"id": range(len(texts)), "t": texts}))
    want = con.execute(
        f"SELECT id, {T.lang_id_sql('t')}, {T.rolling_hash_sql('t')} "
        "FROM docs ORDER BY id"
    ).fetchall()
    assert [tuple(r) for r in got] == want


def test_bpe_token_count_matches_re(spark):
    texts = ["hello, world!", "a.b.c", "no punct here", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, t string")
    got = {r.id: r.n for r in df.select("id", T.bpe_token_count(F.col("t")).alias("n")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(re.findall(r"\w+|[^\w\s]", t)), t


def test_winnow_kernel_matches_expression_and_python(spark):
    """winnow_fingerprints (Arrow kernel) ≡ winnow_sql (DuckDB twin) ≡
    a pure-python reference, over edge cases: empty, < k chars, exactly
    w shingles, repeated text (minima dedup), ascii + long docs."""
    k, w = 8, 8
    texts = [
        "", "short", "x" * (k + w - 2),          # 0 and w-1 shingles
        "x" * (k + w - 1),                        # exactly w shingles
        "the quick brown fox jumps over the lazy dog",
        "abcabcabc" * 10,                         # heavy repetition
        "a" * 200,                                # single distinct hash
        "The SRX syslog line: RT_FLOW session created 10.0.0.1/22",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, t string"
    )
    kern = {
        r.id: list(r.kern)
        for r in df.select(
            "id", T.winnow_fingerprints(F.col("t"), k, w).alias("kern")
        ).collect()
    }
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"id": range(len(texts)), "t": texts}))
    sql = dict(con.execute(T.winnow_sql("docs", "id", "t", k, w)).fetchall())

    def py(t):
        hs = []
        for i in range(len(t) - k + 1):
            h = 0
            for c in t[i : i + k]:
                h = (h * 31 + ord(c)) % 1_000_000_007
            hs.append(h)
        if len(hs) < w:
            return []
        mins = {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}
        return sorted(mins)

    for i, t in enumerate(texts):
        assert kern[i] == py(t), f"kernel vs python: {t!r}"
        assert sql[i] == py(t), f"sql twin vs python: {t!r}"


# ---------------------------------------------------------------------------
# html_to_text (WET extraction)
# ---------------------------------------------------------------------------


def test_html_to_text_strips_blocks_tags_entities(spark):
    from pyspark.sql import functions as F

    from juniper_syslog_filter_spark.functions.text import html_to_text

    html = (
        '<html><head><style>p { color: red }</style></head>'
        '<body><p class="a">Hello &amp; <b>world</b></p>'
        "<script>var x = '<p>not text</p>';</script>"
        "<p>line\n\ttwo &lt;ok&gt;</p></body></html>"
    )
    (row,) = (
        spark.range(1)
        .select(html_to_text(F.lit(html)).alias("t"))
        .collect()
    )
    assert row.t == "Hello & world line two <ok>"


def test_html_to_text_spark_equals_duckdb_twin(spark):
    """The Spark cascade and the SQL twin must agree byte-for-byte on
    adversarial HTML (unterminated tags, entities next to tags,
    mixed-case SCRIPT, CRLF runs)."""
    import duckdb
    from pyspark.sql import functions as F

    from juniper_syslog_filter_spark.functions.text import (
        html_to_text,
        html_to_text_sql,
    )

    cases = [
        "<p>a</p><p>b</p>",
        "<SCRIPT>alert('<x>')</SCRIPT>ok",
        "a &amp;&amp; b &lt;c&gt;",
        "no tags at all",
        "<div><div><p>deep</p></div></div>tail",
        "broken <tag never closes",
        "a\r\n\r\nb\t\tc",
        "<style media='x'>body{}</style>visible",
        "",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "h string")
    got = [r.t for r in df.select(html_to_text(F.col("h")).alias("t")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {html_to_text_sql('?')}", [c]).fetchone()[0]
        for c in cases
    ]
    assert got == want


def test_t12_bigram_lm_matches_numpy(spark, monkeypatch):
    """Interpolated bigram LM score on a tiny constructed corpus,
    cross-checked against a literal numpy/python restatement."""
    import math

    from juniper_syslog_filter_spark.queries import text as TQ

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "c"), (3, "b a")],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")) \
     .withColumn("n_chars", F.length("text"))
    monkeypatch.setattr(TQ, "load_table", lambda s, sf, name: docs)
    got = {
        r.doc_id: (r.n_bigrams, r.lp)
        for r in TQ.q_t12_bigram_lm(spark, "unused").collect()
    }

    # hand model: unigrams a:4 b:4 c:2, T=10, V=3
    uni = {"a": 4, "b": 4, "c": 2}
    T_, V_ = 10, 3
    bgc = {"a b": 3, "b a": 2, "b c": 1}
    def lp(bg):
        w1, w2 = bg.split(" ")
        return math.log(0.7 * (bgc[bg] / uni[w1]) + 0.3 * ((uni[w2] + 1) / (T_ + V_)))
    def doc_lp(grams):
        return round(sum(lp(g) for g in grams) / len(grams), 6)
    assert got[0] == (3, doc_lp(["a b", "b a", "a b"]))
    assert got[1] == (2, doc_lp(["a b", "b c"]))
    assert 2 not in got  # single-word doc: no bigrams
    assert got[3] == (1, doc_lp(["b a"]))
